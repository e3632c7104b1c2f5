"""Real AVI (RIFF) container codec for the video modality — MJPEG frames.

Video's container needs no external libs: classic AVI 1.0 is a RIFF file
(the same chunk grammar
as our WAVE codec) whose ``movi`` list carries one ``00dc`` chunk per
frame, and with Motion-JPEG those chunks are baseline JPEGs — which
``llm.jpeg`` already encodes and decodes natively. So the full video
path (container walk → per-frame codec) now executes in this container
with zero dependencies, exactly like images and audio.

Layout written and verified here (AVI 1.0, single 'vids' stream):

    RIFF <size> 'AVI '
      LIST <size> 'hdrl'
        'avih' (56B)  us/frame, total frames, stream count, width, height
        LIST <size> 'strl'
          'strh' (56B)  'vids'/'MJPG', scale/rate (fps), length
          'strf' (40B)  BITMAPINFOHEADER, biCompression='MJPG'
      LIST <size> 'movi'
        '00dc' <size> <baseline JPEG>   (chunks pad to even length)
        ...
      'idx1' <size>  one 16B entry per frame: ckid, flags, offset, size

The parser is a proper chunk walk (tolerates unknown chunks, honors
odd-length padding) and VALIDATES the idx1 index against the movi chunks
it actually found — offset convention: measured from the first byte of
the 'movi' fourcc, keyframe flag 0x10 on every MJPEG frame. Mismatch
raises; truncation raises; non-AVI raises. Loud refusal, like the other
codecs (the reference has no video surface at all).
"""

from __future__ import annotations

import struct

AVI_US_PER_FRAME = 100_000  # 10 fps
AVIIF_KEYFRAME = 0x10


def _chunk(tag: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""
    return tag + struct.pack("<I", len(body)) + body + pad


def _list(list_type: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", list_type + body)


def encode_avi(frames, us_per_frame: int = AVI_US_PER_FRAME) -> bytes:
    """Encode RGB uint8 frames (all same (h, w, 3) shape) as an MJPEG AVI."""
    from lakehouse_workshop_spark.llm.jpeg import encode_jpeg

    if not frames:
        raise ValueError("AVI needs at least one frame")
    h, w = frames[0].shape[:2]
    jpegs = [encode_jpeg(f) for f in frames]

    avih = struct.pack(
        "<10I",
        us_per_frame,
        0,  # max bytes/sec (informational)
        0,  # padding granularity
        0x10,  # AVIF_HASINDEX
        len(jpegs),
        0,  # initial frames
        1,  # streams
        max(len(j) for j in jpegs),
        w,
        h,
    ) + b"\x00" * 16  # dwReserved[4]
    strh = struct.pack(
        "<4s4sI2H8I4h",
        b"vids",
        b"MJPG",
        0,
        0,
        0,
        0,  # initial frames
        us_per_frame,  # scale
        1_000_000,  # rate -> fps = rate/scale
        0,  # start
        len(jpegs),  # length
        max(len(j) for j in jpegs),
        0xFFFFFFFF,  # quality: default
        0,  # sample size (varies)
        0,
        0,
        w,
        h,  # rcFrame
    )
    strf = struct.pack(
        "<I2i2H2I2i2I", 40, w, h, 1, 24, 0x47504A4D, w * h * 3, 0, 0, 0, 0
    )  # biCompression 'MJPG' little-endian
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih) + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )

    movi_body = b""
    index = []
    for j in jpegs:
        # idx1 offsets are measured from the first byte of the 'movi'
        # fourcc: fourcc itself is 4 bytes, so the first chunk sits at 4.
        index.append((4 + len(movi_body), len(j)))
        movi_body += _chunk(b"00dc", j)
    movi = _list(b"movi", movi_body)
    idx1 = _chunk(
        b"idx1",
        b"".join(
            b"00dc" + struct.pack("<3I", AVIIF_KEYFRAME, off, sz)
            for off, sz in index
        ),
    )
    return _chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def _walk(data: bytes, pos: int, end: int):
    """Yield (tag, list_type_or_None, body_start, body_len) for each chunk."""
    while pos + 8 <= end:
        tag, ln = struct.unpack("<4sI", data[pos : pos + 8])
        if pos + 8 + ln > end:
            raise ValueError(f"truncated {tag!r} chunk in AVI")
        if tag == b"LIST":
            yield tag, data[pos + 8 : pos + 12], pos + 12, ln - 4
        else:
            yield tag, None, pos + 8, ln
        pos += 8 + ln + (ln & 1)


def parse_avi(payload: bytes):
    """Walk a RIFF-AVI container; return ``(meta, [frame_jpeg_bytes])``.

    meta: dict with n_frames, width, height, us_per_frame, handler.
    The idx1 index (when present) is cross-checked entry-by-entry against
    the movi chunks actually encountered — offset AND size — so a
    corrupted or lying index raises instead of silently mis-seeking (the
    bug class real AVI demuxers guard against).
    """
    d = bytes(payload)
    if len(d) < 12 or d[:4] != b"RIFF" or d[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    riff_len = struct.unpack("<I", d[4:8])[0]
    end = min(len(d), 8 + riff_len)

    meta: dict = {}
    frames: list[bytes] = []
    frame_pos: list[tuple[int, int]] = []  # (offset from 'movi' fourcc, size)
    idx_entries: list[tuple[bytes, int, int]] = []

    for tag, ltype, start, ln in _walk(d, 12, end):
        if tag == b"LIST" and ltype == b"hdrl":
            for t2, lt2, s2, l2 in _walk(d, start, start + ln):
                if t2 == b"avih":
                    a = struct.unpack("<10I", d[s2 : s2 + 40])
                    meta.update(
                        us_per_frame=a[0],
                        n_frames=a[4],
                        streams=a[6],
                        width=a[8],
                        height=a[9],
                    )
                elif t2 == b"LIST" and lt2 == b"strl":
                    for t3, _, s3, _l3 in _walk(d, s2, s2 + l2):
                        if t3 == b"strh":
                            fcc_type, handler = struct.unpack(
                                "<4s4s", d[s3 : s3 + 8]
                            )
                            if fcc_type == b"vids":
                                meta["handler"] = handler.decode("ascii")
        elif tag == b"LIST" and ltype == b"movi":
            movi_fourcc_at = start - 4
            for t2, _, s2, l2 in _walk(d, start, start + ln):
                if t2 in (b"00dc", b"00db"):
                    frames.append(d[s2 : s2 + l2])
                    frame_pos.append((s2 - 8 - movi_fourcc_at, l2))
        elif tag == b"idx1":
            for off in range(start, start + ln, 16):
                ckid = d[off : off + 4]
                _flags, coff, csz = struct.unpack("<3I", d[off + 4 : off + 16])
                idx_entries.append((ckid, coff, csz))

    if "n_frames" not in meta:
        raise ValueError("AVI missing avih header")
    if meta["n_frames"] != len(frames):
        raise ValueError(
            f"avih declares {meta['n_frames']} frames, movi carries {len(frames)}"
        )
    if idx_entries:
        data_entries = [e for e in idx_entries if e[0] in (b"00dc", b"00db")]
        if [(o, s) for _, o, s in data_entries] != frame_pos:
            raise ValueError("idx1 index disagrees with movi chunk layout")
    return meta, frames


def decode_avi(payload: bytes):
    """Full video decode: container walk + per-frame baseline-JPEG decode.
    Returns ``(meta, [HxWx3 uint8 arrays])``."""
    from lakehouse_workshop_spark.llm.jpeg import decode_jpeg

    meta, frames = parse_avi(payload)
    return meta, [decode_jpeg(f) for f in frames]
