"""ISO-BMFF (MP4, ISO/IEC 14496-12) container layer in pure stdlib.

Splits the r5 "jpeg/mp4 gated" boundary at the honest line: the
CONTAINER is simple public structure (length-prefixed box tree +
sample tables), so parsing it pure-Python is the same move as the
PPM/PNG/WAV/JPEG codecs — while the CODEC inside (H.264/H.265 CABAC)
genuinely needs external libraries and stays gated.

What this enables at pipeline level: real video work sharding. A
100 TB video corpus is sampled/sharded at the container level — walk
``stbl`` (stsz/stsc/stco) to turn a blob into per-frame byte ranges,
keep every k-th sample, and only THEN hand surviving payloads to a
decoder. ``multimodal.sample_frames`` uses exactly this for
``format='mp4'`` rows: extraction is real container parsing; payload
decode remains format-dependent (raw payloads decode, H.264 raises).

Writer (``encode_mp4``) emits a minimal valid single-track file —
ftyp / mdat / moov(mvhd, trak(tkhd, mdia(mdhd, hdlr, minf(vmhd, dinf,
stbl(stsd, stts, stsc, stsz, stco))))) — with the payload codec
declared by its sample-entry fourcc ('raw ' for the synthetic raw
frames). Any box walker can parse the result; tests assert the
structure box by box.
"""

from __future__ import annotations

import struct

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"dinf", b"edts"}


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


def parse_boxes(buf: bytes, start: int = 0, end: int | None = None) -> list[dict]:
    """Walk the box tree: [{type, offset, size, children}]. Tolerates
    (skips) 64-bit largesize boxes it does not need to descend."""
    end = len(buf) if end is None else end
    out = []
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", buf[pos:pos + 4])
        btype = buf[pos + 4:pos + 8]
        hdr = 8
        if size == 1:
            (size,) = struct.unpack(">Q", buf[pos + 8:pos + 16])
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError(f"corrupt box {btype!r} at {pos}")
        node = {"type": btype, "offset": pos, "size": size, "children": []}
        if btype in _CONTAINERS:
            node["children"] = parse_boxes(buf, pos + hdr, pos + size)
        out.append(node)
        pos += size
    return out


def _find(nodes: list[dict], path: list[bytes]) -> dict | None:
    head, *rest = path
    for n in nodes:
        if n["type"] == head:
            return n if not rest else _find(n["children"], rest)
    return None


def probe_mp4(buf: bytes) -> dict:
    """Track metadata: codec fourcc, width, height, n_samples, fps."""
    tree = parse_boxes(buf)
    if not any(n["type"] == b"ftyp" for n in tree):
        raise ValueError("not an ISO-BMFF file (no ftyp)")
    stbl = _find(tree, [b"moov", b"trak", b"mdia", b"minf", b"stbl"])
    if stbl is None:
        raise ValueError("no sample table (moov/trak/mdia/minf/stbl)")
    stsd = _find(stbl["children"], [b"stsd"])
    p = stsd["offset"] + 8 + 4 + 4  # header + fullbox + entry_count
    codec = buf[p + 4:p + 8]
    width, height = struct.unpack(">HH", buf[p + 32:p + 36])
    stsz = _find(stbl["children"], [b"stsz"])
    _, n_samples = struct.unpack(
        ">II", buf[stsz["offset"] + 12:stsz["offset"] + 20]
    )
    mdhd = _find(tree, [b"moov", b"trak", b"mdia", b"mdhd"])
    timescale, duration = struct.unpack(
        ">II", buf[mdhd["offset"] + 20:mdhd["offset"] + 28]
    )
    fps = round(n_samples * timescale / duration) if duration else 0
    return {
        "codec": codec.decode("latin1").strip(),
        "width": width,
        "height": height,
        "n_samples": n_samples,
        "fps": fps,
    }


def extract_samples(buf: bytes) -> list[bytes]:
    """Resolve the sample table to per-sample byte ranges (general
    stsc chunk mapping, fixed- or per-sample stsz sizes) and slice the
    payloads out of mdat — the container-level frame split a video
    pipeline shards on BEFORE any codec runs."""
    tree = parse_boxes(buf)
    stbl = _find(tree, [b"moov", b"trak", b"mdia", b"minf", b"stbl"])
    if stbl is None:
        raise ValueError("no sample table")
    stsz = _find(stbl["children"], [b"stsz"])
    o = stsz["offset"] + 12
    fixed, n = struct.unpack(">II", buf[o:o + 8])
    sizes = (
        [fixed] * n
        if fixed
        else list(struct.unpack(f">{n}I", buf[o + 8:o + 8 + 4 * n]))
    )
    stco = _find(stbl["children"], [b"stco"])
    o = stco["offset"] + 12
    (n_chunks,) = struct.unpack(">I", buf[o:o + 4])
    offsets = list(struct.unpack(f">{n_chunks}I", buf[o + 4:o + 4 + 4 * n_chunks]))
    stsc = _find(stbl["children"], [b"stsc"])
    o = stsc["offset"] + 12
    (n_ent,) = struct.unpack(">I", buf[o:o + 4])
    ents = [
        struct.unpack(">III", buf[o + 4 + 12 * i:o + 16 + 12 * i])
        for i in range(n_ent)
    ]
    # samples-per-chunk for each chunk index (1-based, runs until the
    # next entry's first_chunk).
    spc = []
    for i, (first, per, _sdi) in enumerate(ents):
        last = ents[i + 1][0] if i + 1 < len(ents) else n_chunks + 1
        spc.extend([per] * (last - first))
    out: list[bytes] = []
    si = 0
    for ci, chunk_off in enumerate(offsets):
        pos = chunk_off
        for _ in range(spc[ci] if ci < len(spc) else 0):
            if si >= n:
                break
            out.append(buf[pos:pos + sizes[si]])
            pos += sizes[si]
            si += 1
    return out

