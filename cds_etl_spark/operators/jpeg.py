"""JPEG (ITU-T T.81 / JFIF) decoder in pure numpy + stdlib.

The ``jpeg``/``jpg`` branch of ``multimodal._decode_bytes``: written
from the public spec, so the pHash ingest decodes JPEG rows without an
external imaging library (Pillow is not a dependency, so this is the
only JPEG decode path).

``decode_jpeg`` handles baseline sequential (SOF0/1) AND progressive
(SOF2) frames — multi-scan coefficient accumulation with
DC-first/DC-refine/AC-first/AC-refine entropy decoders, EOB-run and
correction-bit semantics per T.81 G.2 — with arbitrary sampling
factors (MCU interleave + nearest-neighbor upsample per JFIF),
restart markers and 8-bit precision; Huffman tables and quantization
tables are read from the stream. LOSSLESS frames (SOF3, Annex H
spatial DPCM, predictors 1-7, no color transform) decode through the
same entry point. Arithmetic coding (SOF9-11) and hierarchical
(SOF5-7) raise ``NotImplementedError`` explicitly. The test suite's
fixture encoders (``tests/media_codecs.py``) produce the baseline,
progressive and lossless streams it is checked against.

The SOF9-11 / SOF5-7 decision (r10): PERMANENTLY deferred, for two
reasons. (1) Validation: the QM-coder's probability-estimation state
machine (T.81 Table D.3) and the conditioning models of Annex F.1.4.4
are long numeric tables; no reference arithmetic JPEG codec is
available to test against (Pillow/libjpeg are not dependencies, and
mainstream libjpeg builds historically reject arithmetic anyway), so
an in-engine implementation could only be round-trip-tested against
itself — a wrong state table round-trips perfectly and ships silent
corruption on wild streams, the risk of any entropy coder built
without a reference decoder. Baseline, progressive, and lossless JPEG
never had this problem: their Annex K tables are exercised against
independently-constructed fixtures and bit-exact DPCM round trips.
(2) Corpus statistics: arithmetic JPEG is effectively absent from
real-world corpora — it was patent-encumbered until ~2010, browsers
and most decoders never shipped support, and encoders default to
Huffman; hierarchical (SOF5-7) was never adopted outside niche
medical pipelines. A training-data pipeline hitting one treats it as
a quarantine/transcode case, not a decode path. The gate message
names the escape hatch (external decode + baseline re-encode).

Dequantization and the inverse DCT vectorize per 8x8 block batch
through one einsum; the only per-symbol Python loop is Huffman
decoding, which is inherent to the bitstream and bounded by the
entropy data size. At corpus scale the decode runs inside
``mapInPandas`` batches (multimodal.py), one media blob per row — the
parallelism axis is rows, not pixels.
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------------------
# Zigzag scan order and the 8x8 DCT basis (ITU-T T.81 A.3)
# --------------------------------------------------------------------------


def _zigzag_order() -> np.ndarray:
    """The standard 8x8 zigzag scan, generated from its definition
    (diagonals alternate direction) rather than hardcoded."""
    order = []
    for s in range(15):
        rng = range(max(0, s - 7), min(s, 7) + 1)
        diag = [(r, s - r) for r in rng]
        if s % 2 == 0:
            diag.reverse()  # even diagonals run bottom-left -> top-right
        order.extend(diag)
    idx = np.array([r * 8 + c for r, c in order], dtype=np.int64)
    return idx


ZIGZAG = _zigzag_order()            # flat index -> zigzag position source
UNZIGZAG = np.argsort(ZIGZAG)

# Orthonormal DCT-II basis, C[k, n] = a_k cos((2n+1) k pi / 16).
_N = np.arange(8)
_C = np.cos((2 * _N[None, :] + 1) * _N[:, None] * np.pi / 16) * np.sqrt(2 / 8)
_C[0] *= np.sqrt(0.5)


def _idct2(blocks: np.ndarray) -> np.ndarray:
    return np.einsum("ji,...jk,kl->...il", _C, blocks, _C)


# --------------------------------------------------------------------------
# Huffman coding
# --------------------------------------------------------------------------


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman per T.81 C.2: value -> (code, length)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_decoder(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> value for the bit-serial decoder."""
    return {
        (length, code): v
        for v, (code, length) in _build_codes(bits, vals).items()
    }


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1           # unstuff
            # RSTn handled by the caller via sync(); other markers mean
            # the entropy segment ended — feed zeros (spec allows).
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self) -> None:
        """Align to byte and skip an RSTn marker."""
        self.nbits = 0
        while self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7:
            self.pos += 2
            return


def _decode_huffman(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        v = table.get((length, code))
        if v is not None:
            return v
    raise ValueError("invalid Huffman code in entropy stream")


def _extend(v: int, cat: int) -> int:
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


# --------------------------------------------------------------------------
# Decoder
# --------------------------------------------------------------------------


def _find_scan_end(data: bytes, start: int) -> int:
    """Index of the first real marker (not stuffed 0xFF00, not RSTn)
    after the entropy-coded data starting at ``start``."""
    i = start
    n = len(data) - 1
    while i < n:
        if data[i] == 0xFF:
            nxt = data[i + 1]
            if nxt != 0x00 and not (0xD0 <= nxt <= 0xD7):
                return i
        i += 1
    return len(data)


def _refine_nonzero(reader: _BitReader, coef: np.ndarray, k: int, p1: int, m1: int) -> None:
    """One correction bit for an already-nonzero coefficient
    (T.81 G.2.2): a 1-bit grows the magnitude by 2^Al."""
    if reader.read_bit():
        if not (int(coef[k]) & p1):
            coef[k] += p1 if int(coef[k]) >= 0 else m1


def _decode_ac_first_block(
    reader: _BitReader,
    ac_tab: dict,
    coef: np.ndarray,
    ss: int,
    se: int,
    al: int,
    eobrun: int,
) -> int:
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _decode_huffman(reader, ac_tab)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r < 15:                             # EOBn
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.receive(r)
                break
            k += 16                                # ZRL
            continue
        k += r
        coef[k] = _extend(reader.receive(s), s) << al
        k += 1
    return eobrun


def _decode_ac_refine_block(
    reader: _BitReader,
    ac_tab: dict,
    coef: np.ndarray,
    ss: int,
    se: int,
    al: int,
    eobrun: int,
) -> int:
    p1 = 1 << al
    m1 = -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _decode_huffman(reader, ac_tab)
            r, s = rs >> 4, rs & 0xF
            newval = 0
            if s == 0:
                if r < 15:                         # EOBn: rest via EOB logic
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.receive(r)
                    break
                # r == 15: ZRL — skip 16 zero-history coefficients
            else:                                  # s == 1 in refinements
                newval = p1 if reader.read_bit() else m1
            while k <= se:
                if int(coef[k]) != 0:
                    _refine_nonzero(reader, coef, k, p1, m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= se:
                coef[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:                             # trailing corrections
            if int(coef[k]) != 0:
                _refine_nonzero(reader, coef, k, p1, m1)
            k += 1
        eobrun -= 1
    return eobrun


def decode_jpeg(content: bytes) -> np.ndarray:
    """Decode a baseline-sequential (SOF0/1) or progressive (SOF2)
    JFIF JPEG to (H, W, 3) uint8 RGB (or (H, W) for single-component).
    Progressive files accumulate coefficients across every scan —
    DC/AC first and refinement passes per T.81 G.2 — and dequantize +
    IDCT once at the end. Arithmetic-coded and hierarchical frames
    raise ``NotImplementedError``."""
    data = content
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], dict] = {}
    comps: list[dict] = []
    coeffs: dict[int, np.ndarray] = {}
    h = w = hmax = vmax = mcus_x = mcus_y = 0
    restart_interval = 0
    progressive = False
    saw_scan = False
    while pos < len(data) - 1:
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", data[pos:pos + 2])
        payload = data[pos + 2:pos + seglen]
        if marker == 0xDB:
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.frombuffer(payload[p + 1:p + 65], dtype=np.uint8)
                qtabs[tq] = tbl.astype(np.int32)[UNZIGZAG].reshape(8, 8)
                p += 65
        elif marker == 0xC4:
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0xF
                bits = list(payload[p + 1:p + 17])
                n = sum(bits)
                vals = list(payload[p + 17:p + 17 + n])
                htabs[(tc, th)] = _build_decoder(bits, vals)
                p += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack(">BHHB", payload[:6])
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            comps = []
            for i in range(nc):
                cid, hv, tq = payload[6 + 3 * i:9 + 3 * i]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq}
                )
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
            for c in comps:
                c["gh"], c["gw"] = mcus_y * c["v"], mcus_x * c["h"]
                c["nh"] = -(-(h * c["v"]) // (vmax * 8))
                c["nw"] = -(-(w * c["h"]) // (hmax * 8))
                coeffs[c["id"]] = np.zeros(
                    (c["gh"], c["gw"], 64), dtype=np.int32
                )
        elif marker == 0xC3:
            # Lossless (Annex H): a different coding model entirely —
            # delegate to the dedicated spatial-DPCM decoder.
            return _decode_jpeg_lossless(data)
        elif marker in (0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            # Permanent gate — the decided defer (module docstring
            # "The SOF9-11 / SOF5-7 decision", r10): arithmetic
            # coding's QM-coder state table and the hierarchical
            # frame protocol are unvalidatable here (no reference
            # codec in the container), and both are ~absent from
            # real corpora.
            raise NotImplementedError(
                f"unsupported JPEG frame type (SOF marker 0xFF{marker:02X})"
                " — arithmetic (SOF9-11) and hierarchical (SOF5-7)"
                " frames are a recorded permanent defer (decode"
                " externally, e.g. Pillow/libjpeg, and re-encode"
                " baseline for ingest)"
            )
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", payload[:2])
        elif marker == 0xDA:
            if not comps:
                raise ValueError("SOS before SOF")
            ns = payload[0]
            scan_comps = []
            for i in range(ns):
                cs, tdta = payload[1 + 2 * i], payload[2 + 2 * i]
                comp = next(c for c in comps if c["id"] == cs)
                scan_comps.append((comp, tdta >> 4, tdta & 0xF))
            ss, se = payload[1 + 2 * ns], payload[2 + 2 * ns]
            ahal = payload[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            if not progressive:
                ss, se, ah, al = 0, 63, 0, 0
            entropy_start = pos + seglen
            end = _find_scan_end(data, entropy_start)
            reader = _BitReader(data[entropy_start:end])
            _decode_scan(
                reader, scan_comps, coeffs, htabs,
                ss, se, ah, al, progressive,
                mcus_x, mcus_y, restart_interval,
            )
            saw_scan = True
            pos = end
            continue
        pos += seglen
    if not saw_scan:
        raise ValueError("no SOS marker found")

    out_planes = {}
    for c in comps:
        zz = coeffs[c["id"]]
        qt = qtabs[c["tq"]]
        nat = zz[:, :, UNZIGZAG].reshape(c["gh"], c["gw"], 8, 8) * qt
        pix = (
            _idct2(nat.astype(np.float64))
            .transpose(0, 2, 1, 3)
            .reshape(c["gh"] * 8, c["gw"] * 8)
            + 128.0
        )
        pix = np.repeat(
            np.repeat(pix, vmax // c["v"], axis=0), hmax // c["h"], axis=1
        )
        out_planes[c["id"]] = pix[:h, :w]

    if len(out_planes) == 1:
        g = np.clip(next(iter(out_planes.values())), 0, 255)
        return np.round(g).astype(np.uint8)
    y, cb, cr = (out_planes[c["id"]] for c in comps[:3])
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _decode_scan(
    reader: _BitReader,
    scan_comps: list[tuple[dict, int, int]],
    coeffs: dict[int, np.ndarray],
    htabs: dict,
    ss: int,
    se: int,
    ah: int,
    al: int,
    progressive: bool,
    mcus_x: int,
    mcus_y: int,
    restart_interval: int,
) -> None:
    """Decode one entropy-coded scan into the coefficient arrays.

    Baseline: the classic interleaved DC+AC MCU loop. Progressive:
    one of four kinds keyed on (Ss, Ah) — DC first/refine (MCU
    order when interleaved, the component's non-interleaved raster
    when ns == 1) and AC first/refine (always non-interleaved)."""
    if not progressive or ss == 0:
        # MCU-ordered scans. ns == 1 uses the component's own
        # non-interleaved block raster (T.81 A.2.2).
        interleaved = len(scan_comps) > 1
        preds = {c["id"]: 0 for c, _, _ in scan_comps}
        if interleaved:
            units = mcus_x * mcus_y

            def unit_blocks(u):
                my, mx = divmod(u, mcus_x)
                for c, td, ta in scan_comps:
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            yield c, td, ta, my * c["v"] + by, mx * c["h"] + bx
        else:
            c0, td0, ta0 = scan_comps[0]
            units = c0["nh"] * c0["nw"]

            def unit_blocks(u):
                by, bx = divmod(u, c0["nw"])
                yield c0, td0, ta0, by, bx

        for u in range(units):
            if restart_interval and u and u % restart_interval == 0:
                reader.sync_restart()
                preds = {k: 0 for k in preds}
            for c, td, ta, by, bx in unit_blocks(u):
                coef = coeffs[c["id"]][by, bx]
                if not progressive:
                    dc_tab, ac_tab = htabs[(0, td)], htabs[(1, ta)]
                    cat = _decode_huffman(reader, dc_tab)
                    diff = _extend(reader.receive(cat), cat)
                    preds[c["id"]] += diff
                    coef[0] = preds[c["id"]]
                    k = 1
                    while k <= 63:
                        rs = _decode_huffman(reader, ac_tab)
                        if rs == 0x00:             # EOB
                            break
                        if rs == 0xF0:             # ZRL
                            k += 16
                            continue
                        k += rs >> 4
                        s = rs & 0xF
                        coef[k] = _extend(reader.receive(s), s)
                        k += 1
                elif ah == 0:                      # DC first
                    cat = _decode_huffman(reader, htabs[(0, td)])
                    diff = _extend(reader.receive(cat), cat)
                    preds[c["id"]] += diff
                    coef[0] = preds[c["id"]] << al
                else:                              # DC refine: 1 bit
                    coef[0] = int(coef[0]) | (reader.read_bit() << al)
        return

    # Progressive AC scans: single component, non-interleaved raster.
    if len(scan_comps) != 1:
        raise ValueError("progressive AC scans must be single-component")
    c, _, ta = scan_comps[0]
    ac_tab = htabs[(1, ta)]
    grid = coeffs[c["id"]]
    eobrun = 0
    u = 0
    for by in range(c["nh"]):
        for bx in range(c["nw"]):
            if restart_interval and u and u % restart_interval == 0:
                reader.sync_restart()
                eobrun = 0
            u += 1
            coef = grid[by, bx]
            if ah == 0:
                eobrun = _decode_ac_first_block(
                    reader, ac_tab, coef, ss, se, al, eobrun
                )
            else:
                eobrun = _decode_ac_refine_block(
                    reader, ac_tab, coef, ss, se, al, eobrun
                )


# --------------------------------------------------------------------------
# Lossless JPEG (SOF3, T.81 Annex H) — spatial DPCM + Huffman
# --------------------------------------------------------------------------


def _ll_predict(a: int, b: int, c: int, p: int) -> int:
    """T.81 H.1.2.1 predictors 1–7 (no clamping — that is JPEG-LS)."""
    if p == 1:
        return a
    if p == 2:
        return b
    if p == 3:
        return c
    if p == 4:
        return a + b - c
    if p == 5:
        return a + ((b - c) >> 1)
    if p == 6:
        return b + ((a - c) >> 1)
    return (a + b) >> 1                                # p == 7


def _decode_jpeg_lossless(data: bytes) -> np.ndarray:
    """Decode an SOF3 lossless JPEG produced by any conformant encoder
    within this subset: 8-bit, h=v=1 components, one interleaved scan,
    point transform 0, no restart intervals."""
    pos = 2
    htabs: dict[int, dict] = {}
    h = w = nc = 0
    predictor = 0
    comps: list[int] = []
    scan_start = None
    while pos < len(data) - 1:
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", data[pos:pos + 2])
        payload = data[pos + 2:pos + seglen]
        if marker == 0xC3:
            prec, h, w, nc = struct.unpack(">BHHB", payload[:6])
            if prec != 8:
                raise NotImplementedError(
                    "lossless decode supports 8-bit precision"
                )
            for i in range(nc):
                hv = payload[7 + 3 * i]
                if hv != 0x11:
                    raise NotImplementedError(
                        "lossless decode supports h=v=1 components"
                    )
        elif marker == 0xC4:
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0xF
                bits = list(payload[p + 1:p + 17])
                n = sum(bits)
                vals = list(payload[p + 17:p + 17 + n])
                if tc == 0:
                    htabs[th] = _build_decoder(bits, vals)
                p += 17 + n
        elif marker == 0xDD:
            (ri,) = struct.unpack(">H", payload[:2])
            if ri:
                raise NotImplementedError(
                    "restart intervals unsupported in lossless decode"
                )
        elif marker == 0xDA:
            ns = payload[0]
            comps = [payload[1 + 2 * i + 1] >> 4 for i in range(ns)]
            predictor = payload[1 + 2 * ns]
            al = payload[3 + 2 * ns] & 0xF
            if al:
                raise NotImplementedError("point transform unsupported")
            if ns != nc:
                raise NotImplementedError(
                    "lossless decode supports one interleaved scan"
                )
            scan_start = pos + seglen
            break
        pos += seglen
    if scan_start is None or not h:
        raise ValueError("no lossless scan found")
    if not 1 <= predictor <= 7:
        raise ValueError(f"invalid lossless predictor {predictor}")
    reader = _BitReader(data[scan_start:])
    planes = [np.zeros((h, w), np.int32) for _ in range(nc)]

    def read_diff(table):
        # bit-serial canonical Huffman: extend one bit at a time
        code = 0
        for length in range(1, 17):
            code = (code << 1) | reader.read_bit()
            if (length, code) in table:
                cat = table[(length, code)]
                if cat == 0:
                    return 0
                return _extend(reader.receive(cat), cat)
        raise ValueError("bad Huffman code in lossless scan")

    for y in range(h):
        for x in range(w):
            for k in range(nc):
                pl = planes[k]
                d = read_diff(htabs[comps[k]])
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
                pl[y, x] = (px + d) & 0xFFFF
    outp = [np.clip(pl, 0, 255).astype(np.uint8) for pl in planes]
    if nc == 1:
        return outp[0]
    return np.stack(outp, axis=-1)
