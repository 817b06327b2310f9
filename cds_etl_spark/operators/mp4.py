"""ISO-BMFF (MP4, ISO/IEC 14496-12) container layer in pure stdlib.

The CONTAINER is simple public structure (a length-prefixed box tree
plus sample tables), so it parses in pure Python, the same move as the
PPM/PNG/WAV/JPEG decoders — while the CODEC inside (H.264/H.265 CABAC)
genuinely needs an external library and stays behind the PyAV gate in
``multimodal._decode_bytes``.

``probe_mp4`` reads the track metadata (codec fourcc, size, sample
count, fps) and ``extract_samples`` walks ``stbl`` (stsz/stsc/stco) to
turn a blob into per-sample byte ranges: the container-level split a
video pipeline shards on BEFORE any codec runs. ``_decode_bytes``
returns the joined samples of a raw-codec or empty track and hands
compressed tracks to PyAV.
"""

from __future__ import annotations

import struct

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"dinf", b"edts"}


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

