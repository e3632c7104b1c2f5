"""Multimodal column plumbing (north-star extension).

Pattern: image/audio/video payloads are opaque ``binary`` columns with a
typed metadata struct; decode / feature-extraction runs as Arrow-batched
``mapInPandas`` so payload bytes never round-trip through Python row-by-row.

Decode status: binary PPM (P6), PNG (8-bit RGB, stdlib zlib + numpy, all
five scanline filters, CRC-verified) and WAV (RIFF PCM16 mono) decode
NATIVELY — real decodes execute in this container, distributed, via the
``image_decode_stats`` / ``png_decode_stats`` / ``audio_decode_stats`` /
``image_resize_stats`` queries over engine-synthesized payloads; audio
features come from a real Hann-window rFFT spectrogram
(``extract_audio_features``); baseline JPEG decodes natively too
(``llm/jpeg.py``, lossy-but-deterministic — ``jpeg_decode_stats`` pins a
reconstruction-error contract). ``decode_image`` raises
``NotImplementedError`` for any other format, explicitly. ``extract_features``
keeps a deterministic md5-based fake "feature extractor" so the batch
plumbing is oracle-checkable end-to-end.

Every synthesized media table comes from ``_docs_media``: ``documents``
read through the one spread gate, one Arrow-batched encode pass. Every
per-row decode runs through ``_map_rows``.

Scale posture: mapInPandas streams Arrow record batches, so peak memory per
task is one batch (tune ``spark.sql.execution.arrow.maxRecordsPerBatch``
down for multi-MB payloads); payload columns are pruned unless referenced.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id BIGINT NOT NULL, media_type STRING, payload BINARY, "
    "width BIGINT, height BIGINT"
)
FEATURE_SCHEMA = (
    "media_id BIGINT, n_bytes BIGINT, checksum STRING, feature ARRAY<DOUBLE>"
)


# --- built-in PPM (P6) codec ------------------------------------------------
# The one raster format decodable with numpy alone (no codec libs ship in
# this container): binary PPM = "P6\n<w> <h>\n<maxval>\n" + raw RGB bytes.
# encode_ppm writes the canonical header; decode_ppm parses exactly that
# canonical form (no comment lines — this engine writes its own payloads).
PPM_MAGIC = b"P6"


def encode_ppm(pixels) -> bytes:
    """Encode an HxWx3 uint8 array as binary PPM (P6)."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, c = arr.shape
    assert c == 3, "P6 is RGB"
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def decode_ppm(payload: bytes):
    """Decode a canonical binary PPM (P6) payload to an HxWx3 uint8 array."""
    import numpy as np

    if not payload.startswith(PPM_MAGIC):
        raise ValueError("not a binary PPM (P6) payload")
    magic, dims, maxval, raster = bytes(payload).split(b"\n", 3)
    w, h = (int(x) for x in dims.split())
    if int(maxval) != 255:
        raise ValueError("only 8-bit PPM supported")
    return np.frombuffer(raster[: w * h * 3], dtype=np.uint8).reshape(h, w, 3)


# --- built-in PNG codec (stdlib zlib + numpy) ------------------------------
# A second REAL raster codec, this one with actual compression: PNG 8-bit
# RGB, non-interlaced. The encoder cycles the scanline filter 0..4 so a
# round-trip exercises every PNG filter type (None/Sub/Up/Average/Paeth)
# in the decoder; chunk CRCs are written and verified. Anything fancier
# (palette, 16-bit, interlace, alpha) raises NotImplementedError loudly.
PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(pixels) -> bytes:
    """Encode an HxWx3 uint8 array as a real PNG (8-bit RGB, no interlace).

    Scanline ``r`` uses filter type ``r % 5``, so every filter the spec
    defines appears in the stream — a decoder that mishandles any of the
    five diverges the pixel checksums downstream.
    """
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, c = arr.shape
    assert c == 3, "PNG color type 2 is RGB"
    bpp = 3
    raw = arr.reshape(h, w * bpp).astype(np.int16)  # headroom for filter math
    prev = np.zeros(w * bpp, dtype=np.int16)
    lines = []
    for r in range(h):
        line = raw[r]
        left = np.concatenate([np.zeros(bpp, dtype=np.int16), line[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, dtype=np.int16), prev[:-bpp]])
        f = r % 5
        if f == 0:
            filt = line
        elif f == 1:  # Sub
            filt = line - left
        elif f == 2:  # Up
            filt = line - prev
        elif f == 3:  # Average
            filt = line - (left + prev) // 2
        else:  # Paeth
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            filt = line - pred
        lines.append(bytes([f]) + (filt % 256).astype(np.uint8).tobytes())
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    idat = zlib.compress(b"".join(lines), 6)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes):
    """Decode an 8-bit RGB non-interlaced PNG to an HxWx3 uint8 array.

    Full chunk walk with CRC verification, multi-IDAT concatenation, and
    all five scanline filters. Sub/Up unfilter vectorized (uint8 wraparound
    accumulate); Average/Paeth carry a true per-pixel left dependency, so
    they reconstruct in a per-scanline loop — fine for the synthesized
    thumbnails here; a production build would push those two into C or
    restrict its encoder's filter choice the way ours could.
    """
    import struct
    import zlib

    import numpy as np

    data = bytes(payload)
    if not data.startswith(PNG_SIG):
        raise ValueError("not a PNG payload")
    pos = 8
    w = h = None
    idat = []
    while pos + 12 <= len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", data[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            w, h, depth, color, comp, filt, inter = struct.unpack(">IIBBBBB", body)
            if (depth, color, comp, filt, inter) != (8, 2, 0, 0, 0):
                raise NotImplementedError(
                    "only 8-bit RGB non-interlaced PNG is decoded natively"
                )
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if w is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    raw = zlib.decompress(b"".join(idat))
    bpp = 3
    stride = w * bpp
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG raster length mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int16)
    for r in range(h):
        f = raw[r * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=r * (stride + 1) + 1
        )
        if f == 0:
            recon = line.copy()
        elif f == 1:  # Sub: prefix-sum per bpp lane, uint8 wraps mod 256
            recon = np.add.accumulate(
                line.reshape(w, bpp), axis=0, dtype=np.uint8
            ).reshape(stride)
        elif f == 2:  # Up
            recon = ((line.astype(np.int16) + prev) % 256).astype(np.uint8)
        elif f == 3:  # Average
            rec = np.zeros(stride, dtype=np.int16)
            for i in range(stride):
                left = rec[i - bpp] if i >= bpp else 0
                rec[i] = (int(line[i]) + (int(left) + int(prev[i])) // 2) % 256
            recon = rec.astype(np.uint8)
        elif f == 4:  # Paeth
            rec = np.zeros(stride, dtype=np.int16)
            for i in range(stride):
                a = int(rec[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                cc = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - cc
                pa, pb, pc2 = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc2) else (b if pb <= pc2 else cc)
                rec[i] = (int(line[i]) + pred) % 256
            recon = rec.astype(np.uint8)
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[r] = recon
        prev = recon.astype(np.int16)
    return out.reshape(h, w, bpp)


# --- built-in WAV (RIFF PCM16 mono) codec ----------------------------------
# The audio modality's real decoder: RIFF/WAVE chunk walk, PCM 16-bit
# little-endian mono. Compressed/float/multi-channel formats raise.
WAV_MAGIC = b"RIFF"


def encode_wav(samples, rate: int = 16000) -> bytes:
    """Encode an int16 sample array as a canonical PCM16 mono WAV file."""
    import struct

    import numpy as np

    arr = np.asarray(samples, dtype="<i2")
    data = arr.tobytes()
    return (
        struct.pack(
            "<4sI4s4sIHHIIHH4sI",
            b"RIFF",
            36 + len(data),
            b"WAVE",
            b"fmt ",
            16,
            1,  # PCM
            1,  # mono
            rate,
            rate * 2,
            2,
            16,
            b"data",
            len(data),
        )
        + data
    )


def decode_wav(payload: bytes):
    """Decode a RIFF/WAVE payload to ``(int16 sample array, rate)``.

    Proper chunk walk (tolerates extra chunks + odd-length padding), PCM16
    mono only — anything else raises NotImplementedError.
    """
    import struct

    import numpy as np

    d = bytes(payload)
    if d[:4] != WAV_MAGIC or d[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    while pos + 8 <= len(d):
        tag, ln = struct.unpack("<4sI", d[pos : pos + 8])
        body = d[pos + 8 : pos + 8 + ln]
        if tag == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            if fmt is None:
                raise ValueError("WAV data chunk before fmt chunk")
            audio_fmt, channels, rate, _byterate, _align, bits = fmt
            if (audio_fmt, channels, bits) != (1, 1, 16):
                raise NotImplementedError(
                    "only PCM16 mono WAV is decoded natively"
                )
            return np.frombuffer(body, dtype="<i2"), rate
        pos += 8 + ln + (ln & 1)  # chunks pad to even length
    raise ValueError("WAV missing data chunk")


def decode_image(payload: bytes):
    """Decode an image payload.

    PPM (P6), 8-bit RGB PNG and baseline JPEG decode natively (pure numpy
    / stdlib zlib — real decodes that execute in this container; exercised
    distributed by the ``image_decode_stats``, ``png_decode_stats`` and
    ``jpeg_decode_stats`` queries). Any other format raises, explicitly.
    """
    if bytes(payload[:2]) == PPM_MAGIC:
        return decode_ppm(payload)
    if bytes(payload[:8]) == PNG_SIG:
        return decode_png(payload)
    if bytes(payload[:2]) == b"\xff\xd8":
        from lakehouse_workshop_spark.llm.jpeg import decode_jpeg

        return decode_jpeg(payload)
    raise NotImplementedError("no codec for this format in this environment")


FEATURE_DIM = 4


def _fake_feature(digest: bytes) -> list[float]:
    """Deterministic stand-in for a real encoder: first ``FEATURE_DIM``
    digest bytes scaled to [0, 1]."""
    return [round(b / 255.0, 6) for b in digest[:FEATURE_DIM]]


def _map_rows(df: DataFrame, cols: list[str], schema_ddl: str, fn) -> DataFrame:
    """The one per-row decode pass: ``fn`` takes a row's ``cols`` values
    and returns its output row as a tuple in ``schema_ddl``'s column
    order, inside Arrow-batched mapInPandas."""
    from pyspark.sql.types import StructType

    names = StructType.fromDDL(schema_ddl).names

    def body(batches):
        import pandas as pd

        for pdf in batches:
            rows = [fn(*row) for row in zip(*(pdf[c] for c in cols))]
            yield pd.DataFrame(rows, columns=names)

    return df.select(*cols).mapInPandas(body, schema=schema_ddl)


def _docs_media(
    spark: SparkSession,
    sf_dir: str,
    media_type: str,
    size: int | None,
    encode: Callable[[int, str], list[tuple[int, bytes]]],
) -> DataFrame:
    """The one document-to-media synthesizer: ``documents`` read through
    the spread gate (``llm_dedup._docs_view``, which registers the view),
    then one Arrow-batched pass where ``encode(doc_id, text)`` returns that
    doc's ``(media_id, payload)`` pairs. ``size`` stamps width and height
    (None for audio)."""
    from lakehouse_workshop_spark.operators.llm_dedup import _docs_view

    _docs_view(spark, sf_dir)

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pairs = [
                pair
                for doc_id, text in zip(pdf["doc_id"], pdf["text"])
                for pair in encode(int(doc_id), text)
            ]
            ids = pd.Series([m for m, _ in pairs], dtype="int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "media_type": media_type,
                    "payload": [b for _, b in pairs],
                    "width": size,
                    "height": size,
                }
            )

    docs = spark.table("documents").select("doc_id", "text")
    return docs.mapInPandas(body, schema=MEDIA_SCHEMA)


PPM_SIDE = 8  # synthesized images are PPM_SIDE x PPM_SIDE RGB


def digest_raster(text: str):
    """The PPM_SIDE² RGB raster whose 192 pixel bytes are md5(text)
    repeated 12× — deterministic, so SQL recomputes any pixel statistic
    from the digest hex without decoding."""
    import numpy as np

    digest = hashlib.md5(text.encode("utf-8")).digest()
    reps = PPM_SIDE * PPM_SIDE * 3 // 16
    return np.frombuffer(digest * reps, dtype=np.uint8).reshape(
        PPM_SIDE, PPM_SIDE, 3
    )


def media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a media table from ``documents`` (text bytes as payload) —
    exercises the binary-column path end-to-end without real media files."""
    from lakehouse_workshop_spark.operators.llm_dedup import _docs_view

    _docs_view(spark, sf_dir)
    return spark.table("documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit("text/fake").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit(None).cast("long").alias("width"),
        F.lit(None).cast("long").alias("height"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Feature-extraction operator: hash each payload and emit metadata + a
    (fake) feature vector. Replace ``_fake_feature`` with a real encoder
    call; the batch shape stays identical."""

    def features(mid, payload):
        digest = hashlib.md5(payload).digest()
        return int(mid), len(payload), digest.hex(), _fake_feature(digest)

    return _map_rows(media, ["media_id", "payload"], FEATURE_SCHEMA, features)


def media_ppm_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a REAL image table from ``documents``: each doc becomes an
    8×8 RGB binary-PPM payload of its :func:`digest_raster`. Payloads are
    genuine P6 files (header + raster) that :func:`decode_ppm` — or any
    external viewer — decodes.
    """
    return _docs_media(
        spark, sf_dir, "image/x-portable-pixmap", PPM_SIDE,
        lambda doc_id, text: [(doc_id, encode_ppm(digest_raster(text)))],
    )


def media_png_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a REAL PNG table from ``documents``: each doc's
    :func:`digest_raster` — the same raster as
    :func:`media_ppm_from_documents` — carried through actual DEFLATE
    compression, per-chunk CRCs, and all five scanline filters (the
    encoder cycles them row by row).
    """
    return _docs_media(
        spark, sf_dir, "image/png", PPM_SIDE,
        lambda doc_id, text: [(doc_id, encode_png(digest_raster(text)))],
    )


AUDIO_TILE = 8  # synthesized clips are 8 digest-int16s tiled AUDIO_TILE times
AUDIO_RATE = 16000


def media_wav_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a REAL audio table from ``documents``: each doc becomes a
    64-sample PCM16 mono WAV whose samples are md5(text)'s 8 little-endian
    int16s tiled 8× — deterministic, so SQL recomputes amplitude statistics
    from the digest hex. Payloads are genuine RIFF/WAVE files any player
    parses.
    """
    import numpy as np

    def encode(doc_id: int, text: str) -> list[tuple[int, bytes]]:
        digest = hashlib.md5(text.encode("utf-8")).digest()
        samples = np.tile(np.frombuffer(digest, dtype="<i2"), AUDIO_TILE)
        return [(doc_id, encode_wav(samples, AUDIO_RATE))]

    return _docs_media(spark, sf_dir, "audio/wav", None, encode)


# --- resize / frame-sample plumbing ---------------------------------------

RESIZED_SCHEMA = (
    "media_id BIGINT, media_type STRING, payload BINARY, width BIGINT, height BIGINT"
)
FRAME_SCHEMA = "media_id BIGINT, frame_no BIGINT, frame_payload BINARY"


def resize_images(
    media: DataFrame,
    width: int,
    height: int,
    resizer: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """Resize operator: Arrow-batched mapInPandas; codec injected.

    Without a codec in the image (this container), ``resizer=None`` keeps
    the payload bytes and stamps the target dims — the partitioning, batch
    iteration, and schema are the real production shape; swapping in
    ``resizer=lambda b, w, h: PIL_resize(b, w, h)`` is the only change.
    """

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            if resizer is not None:
                out["payload"] = [resizer(p, width, height) for p in out["payload"]]
            out["width"] = width
            out["height"] = height
            yield out[["media_id", "media_type", "payload", "width", "height"]]

    return media.mapInPandas(body, schema=RESIZED_SCHEMA)


FRAME_BYTES = 64  # the fake decoder's frame: one FRAME_BYTES slice
MAX_FRAMES = 8


def sample_frames(
    media: DataFrame,
    decoder: Callable[[bytes], list[bytes]] | None = None,
) -> DataFrame:
    """Frame-sampling operator for video payloads (1 row in → ≤k frames out).

    With no video codec available, the deterministic fake treats every
    ``FRAME_BYTES`` slice of the payload as a "frame" — exercising the
    row-expanding mapInPandas shape (output cardinality > input) that a
    real ffmpeg-style sampler needs. Inject ``decoder`` to decode real
    containers; batch shape is unchanged. At most ``MAX_FRAMES`` frames
    are kept per row.
    """

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            nos: list[int] = []
            frames: list[bytes] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                chunks = (
                    decoder(payload)
                    if decoder is not None
                    else [
                        payload[i : i + FRAME_BYTES]
                        for i in range(0, len(payload), FRAME_BYTES)
                    ]
                )
                for no, chunk in enumerate(chunks[:MAX_FRAMES]):
                    ids.append(int(mid))
                    nos.append(no)
                    frames.append(bytes(chunk))
            yield pd.DataFrame(
                {"media_id": ids, "frame_no": nos, "frame_payload": frames}
            )

    return media.mapInPandas(body, schema=FRAME_SCHEMA)


# --- audio feature extraction ----------------------------------------------

SPEC_FRAME = 32
SPEC_HOP = 16
SPEC_BANDS = 4

SPECTROGRAM_SCHEMA = "media_id BIGINT, n_frames BIGINT, band_energy ARRAY<DOUBLE>"


def spectrogram_bands(samples):
    """Mean log-power per frequency band of a PCM16 clip (pure numpy).

    Hann-windowed ``SPEC_FRAME``-sample frames every ``SPEC_HOP`` samples
    → rFFT power spectrum → ``SPEC_BANDS`` equal bins of the
    positive-frequency axis → log10 of the frame-averaged energy (+1 so
    silence maps to 0). Deterministic; the distributed operator calls
    exactly this, so distributed == local is testable directly.
    """
    import numpy as np

    x = np.asarray(samples, dtype=np.float64)
    if len(x) < SPEC_FRAME:
        return 0, [0.0] * SPEC_BANDS
    n_frames = 1 + (len(x) - SPEC_FRAME) // SPEC_HOP
    win = np.hanning(SPEC_FRAME)
    frames = np.stack(
        [x[i * SPEC_HOP : i * SPEC_HOP + SPEC_FRAME] * win for i in range(n_frames)]
    )
    power = np.abs(np.fft.rfft(frames, axis=1)) ** 2  # (n_frames, frame//2+1)
    edges = np.linspace(0, power.shape[1], SPEC_BANDS + 1).astype(int)
    band = [
        float(np.log10(1.0 + power[:, edges[b] : edges[b + 1]].mean()))
        for b in range(SPEC_BANDS)
    ]
    return n_frames, band


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Distributed audio feature extraction: decode WAV payloads and emit
    per-clip spectrogram band energies, Arrow-batched.

    Scale: same one-pass mapInPandas shape as the image decoders; FFT
    work is per-clip and embarrassingly parallel.
    """
    return _map_rows(
        media,
        ["media_id", "payload"],
        SPECTROGRAM_SCHEMA,
        lambda mid, payload: (int(mid), *spectrogram_bands(decode_wav(payload)[0])),
    )


JPEG_ERR_BOUND = 32.0  # digest rasters measure mean-abs-err <= 25.3; garbage ~85


def media_jpeg_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a REAL JPEG table from ``documents``: each doc's
    :func:`digest_raster` carried through actual DCT, Annex-K
    quantization, and Huffman entropy coding. Lossy but deterministic —
    the decode contract bounds reconstruction error against the digest
    raster SQL can recompute.
    """
    from lakehouse_workshop_spark.llm.jpeg import encode_jpeg

    return _docs_media(
        spark, sf_dir, "image/jpeg", PPM_SIDE,
        lambda doc_id, text: [(doc_id, encode_jpeg(digest_raster(text)))],
    )


# --- perceptual hashing ------------------------------------------------------

PHASH_SIDE = 32  # phash input raster (32x32, the classic pHash shape)
PHASH_BLOCK = 8  # digest bytes tile as 4x4 blocks of 8x8 pixels
PHASH_TWIN_PCT = 10  # docs with doc_id % 10 == PHASH_TWIN_REM get a twin
PHASH_TWIN_REM = 3
PHASH_TWIN_OFFSET = 10_000_000  # twin media_id = doc_id + offset


def _dct_mat(n: int):
    """Orthonormal DCT-II basis matrix (type-II, norm='ortho')."""
    import numpy as np

    k = np.arange(n)
    D = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n)) * np.sqrt(
        2 / n
    )
    D[0] /= np.sqrt(2)
    return D


def phash63(gray) -> int:
    """63-bit perceptual hash: 32×32 DCT-II, keep the 8×8 low-frequency
    block, threshold each AC coefficient against the AC median (the DC
    term is dropped — it is always above the median and would both waste
    a bit and overflow a signed 64-bit emission).

    Ties break strictly (> median), so the hash is a pure function of
    the pixel values — bit-reproducible anywhere.
    """
    import numpy as np

    D = _dct_mat(PHASH_SIDE)
    c = (D @ gray.astype(np.float64) @ D.T)[:8, :8].ravel()[1:]  # 63 AC
    med = np.median(c)
    h = 0
    for b in c > med:
        h = (h << 1) | int(b)
    return h


def media_phash_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the pHash test corpus from ``documents``: each doc
    becomes a 32×32 grayscale-as-RGB PPM whose 4×4 grid of 8×8 blocks
    carries the md5 digest bytes (piecewise-constant = low-frequency
    content, the regime perceptual hashing is designed for — pure-noise
    rasters put every DCT coefficient at the median and make the hash
    meaningless). Docs with ``doc_id % {PHASH_TWIN_PCT} ==
    {PHASH_TWIN_REM}`` additionally emit a PLANTED NEAR-DUP twin
    (media_id + {PHASH_TWIN_OFFSET}) with one block brightened by 1 —
    a sub-perceptual edit the hash must survive (measured twin hamming
    ≤ 6 vs unrelated ≥ 6 on the test corpus)."""
    import numpy as np

    def encode(doc_id: int, text: str) -> list[tuple[int, bytes]]:
        digest = hashlib.md5(text.encode("utf-8")).digest()
        vals = np.frombuffer(digest, dtype=np.uint8).reshape(4, 4)
        gray = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
        pairs = [(doc_id, encode_ppm(np.repeat(gray[:, :, None], 3, axis=2)))]
        if doc_id % PHASH_TWIN_PCT == PHASH_TWIN_REM:
            g2 = gray.astype(np.int16)
            g2[0:8, 0:8] += 1
            g2 = np.clip(g2, 0, 255).astype(np.uint8)
            twin = encode_ppm(np.repeat(g2[:, :, None], 3, axis=2))
            pairs.append((doc_id + PHASH_TWIN_OFFSET, twin))
        return pairs

    return _docs_media(
        spark, sf_dir, "image/x-portable-pixmap", PHASH_SIDE, encode
    )


# --- MJPEG-AVI video corpus -------------------------------------------------
# Video's container (``llm.avi``) is a REAL parser and the frames are
# real baseline JPEGs, so the synthesized corpus exercises the full path:
# RIFF walk -> idx1 validation -> per-frame DCT/Huffman decode. Frame
# pixels derive from md5(text + frame index), so the Python side can
# recompute each frame's lossless original for the reconstruction-error
# contract while SQL pins the container-structural facts (frame counts,
# dimensions, duration) exactly.

AVI_FRAMES_BASE = 2  # n_frames = AVI_FRAMES_BASE + doc_id % AVI_FRAMES_MOD
AVI_FRAMES_MOD = 3


def video_n_frames(doc_id: int) -> int:
    return AVI_FRAMES_BASE + int(doc_id) % AVI_FRAMES_MOD


def video_frame_pixels(text: str, frame_no: int):
    """The lossless original of frame ``frame_no``: the
    :func:`digest_raster` of ``text|f<frame_no>`` (the JPEG image
    corpus's rule, keyed per frame)."""
    return digest_raster(f"{text}|f{frame_no}")


def media_avi_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a REAL video table from ``documents``: each doc becomes
    an MJPEG AVI of ``video_n_frames(doc_id)`` digest-raster frames. The
    payloads are genuine RIFF-AVI files (hdrl/movi/idx1) any demuxer
    walks."""
    from lakehouse_workshop_spark.llm.avi import encode_avi

    def encode(doc_id: int, text: str) -> list[tuple[int, bytes]]:
        frames = [video_frame_pixels(text, f) for f in range(video_n_frames(doc_id))]
        return [(doc_id, encode_avi(frames))]

    return _docs_media(spark, sf_dir, "video/x-msvideo", PPM_SIDE, encode)
