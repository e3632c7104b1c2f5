"""Multimodal feature-extraction query (north-star extension).

The mapInPandas pipeline from ``llm.multimodal`` driven end-to-end. The
fake feature extractor is md5-derived, so even the Python-side batch path
is oracle-checkable: DuckDB reproduces byte lengths, checksums and the
scaled digest-byte features in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lakehouse_workshop_spark.llm.multimodal import (
    PHASH_TWIN_OFFSET,
    PHASH_TWIN_PCT,
    PHASH_TWIN_REM,
    _map_rows,
    extract_features,
    media_from_documents,
)
from lakehouse_workshop_spark.operators import query


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS checksum,
           CAST(i - 1 AS INT) AS dim_idx,
           ROUND(('0x' || substr(md5(text), 2*i-1, 2))::BIGINT / 255.0, 6)
               AS feature_val
    FROM documents
    CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS i)
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction via Arrow-batched mapInPandas.

    The payloads are document text bytes (ASCII — strlen == byte length in
    the oracle); a real deployment swaps the fake encoder for a codec call
    with the identical batch shape.

    The registered (driver-checked) shape posexplodes the feature vector to
    one scalar row per dimension: the driver's pandas canonicalizer crashes
    on array cells (``unhashable type: 'list'``), and doubles
    compare bit-exactly where a float→string render would not. The
    array-shaped API is :func:`lakehouse_workshop_spark.llm.multimodal.extract_features`.
    """
    from pyspark.sql import functions as F

    feats = extract_features(media_from_documents(spark, sf_dir))
    return feats.select(
        "media_id",
        "n_bytes",
        "checksum",
        F.posexplode("feature").alias("dim_idx", "feature_val"),
    )


@query(
    "frame_samples",
    oracle="""
    WITH framed AS (
        SELECT doc_id AS media_id,
               unnest(generate_series(0,
                   least(CAST(ceil(strlen(text) / 64.0) AS BIGINT), 8) - 1)) AS frame_no,
               text
        FROM documents
    )
    SELECT media_id, frame_no,
           CAST(strlen(substr(text, frame_no * 64 + 1, 64)) AS BIGINT) AS n_bytes,
           md5(substr(text, frame_no * 64 + 1, 64)) AS frame_md5
    FROM framed
    """,
)
def frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-expanding frame sampler (video path) over binary payloads.

    One media row fans out to ≤8 "frames" (64-byte slices under the
    deterministic fake decoder) through ``mapInPandas`` — the exact batch
    shape an ffmpeg-backed sampler needs; the oracle reproduces slice
    lengths and checksums in SQL.
    """
    from pyspark.sql import functions as F

    from lakehouse_workshop_spark.llm.multimodal import sample_frames

    frames = sample_frames(media_from_documents(spark, sf_dir))
    return frames.select(
        "media_id",
        "frame_no",
        F.length("frame_payload").cast("bigint").alias("n_bytes"),
        F.md5("frame_payload").alias("frame_md5"),
    )


@query(
    "image_decode_stats",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(8 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           CAST(64 AS BIGINT) AS n_pixels,
           list_aggregate(
               list_transform(generate_series(0, 15),
                   i -> ('0x' || substr(md5(text), 2*i + 1, 2))::BIGINT),
               'avg') / 255.0 AS mean_intensity
    FROM documents
    """,
)
def image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, distributed: every synthesized binary-PPM payload
    is parsed by the pure-numpy P6 codec inside Arrow-batched mapInPandas
    (no fake here — the bytes on the wire are a genuine image file), and
    the decoded raster's dims + mean intensity are emitted.

    Value-check: the synthesized pixels are md5(text) repeated 12×, so the
    oracle recomputes the identical mean from the digest hex in SQL —
    a wrong header parse, byte order, or reshape diverges the hash.

    Scale: one mapInPandas pass (encode) feeding another (decode) — both
    Arrow-batched, payload bytes never row-trip Python; peak task memory
    is one record batch of 8×8 images.
    """
    from lakehouse_workshop_spark.llm.multimodal import (
        decode_image,
        media_ppm_from_documents,
    )

    def stats(mid, payload):
        arr = decode_image(payload)  # native P6 path — real decode
        h, w, _ = arr.shape
        s16 = int(arr.sum()) // 12  # pixels are the 16-byte digest repeated 12x
        # same op order as the oracle: (sum/16) then /255
        return int(mid), w, h, w * h, (float(s16) / 16.0) / 255.0

    return _map_rows(
        media_ppm_from_documents(spark, sf_dir),
        ["media_id", "payload"],
        "media_id BIGINT, width BIGINT, height BIGINT, n_pixels BIGINT, "
        "mean_intensity DOUBLE",
        stats,
    )


def _png_channel_sum_sql(c: int) -> str:
    # Channel c of the synthesized 8x8 raster: flat byte j = c + 3k
    # (k = 0..63) carries digest[(c + 3k) % 16]; hex byte i of md5(text)
    # is substr(hex, 2i+1, 2).
    return (
        "list_aggregate(list_transform(generate_series(0, 63), "
        f"k -> ('0x' || substr(md5(text), 2*(({c} + 3*k) % 16) + 1, 2))::BIGINT), "
        "'sum')"
    )


@query(
    "png_decode_stats",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST(8 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           {_png_channel_sum_sql(0)} / 64.0 / 255.0 AS mean_r,
           {_png_channel_sum_sql(1)} / 64.0 / 255.0 AS mean_g,
           {_png_channel_sum_sql(2)} / 64.0 / 255.0 AS mean_b
    FROM documents
    """,
)
def png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode, distributed: each synthesized payload is a genuine
    PNG file (DEFLATE-compressed IDAT, per-chunk CRCs, scanline filters
    cycling through all five spec types) parsed by the stdlib-zlib + numpy
    codec inside Arrow-batched mapInPandas, emitting decoded dims and
    per-channel mean intensities.

    Value-check: pixels are md5(text) repeated 12×, so the oracle
    recomputes each channel mean from the digest hex in SQL — a wrong
    filter reconstruction (Sub/Up/Average/Paeth), inflate framing, or CRC
    slip diverges the means.

    Scale: one mapInPandas pass (encode) feeding another (decode), both
    Arrow-batched; payload bytes never row-trip Python. Per-task peak is
    one record batch of thumbnails — for multi-MB rasters, lower
    ``spark.sql.execution.arrow.maxRecordsPerBatch``.
    """
    from lakehouse_workshop_spark.llm.multimodal import (
        decode_image,
        media_png_from_documents,
    )

    def stats(mid, payload):
        arr = decode_image(payload)  # native PNG path — real decode
        h, w, _ = arr.shape
        sums = arr.reshape(-1, 3).sum(axis=0, dtype="int64")
        # same op order as the oracle: (sum / n_px) / 255
        return (int(mid), w, h, *(float(c) / (h * w) / 255.0 for c in sums))

    return _map_rows(
        media_png_from_documents(spark, sf_dir),
        ["media_id", "payload"],
        "media_id BIGINT, width BIGINT, height BIGINT, mean_r DOUBLE, "
        "mean_g DOUBLE, mean_b DOUBLE",
        stats,
    )


@query(
    "audio_decode_stats",
    oracle="""
    WITH s AS (
        SELECT doc_id,
               list_transform(generate_series(0, 7), i ->
                   CASE WHEN ('0x' || substr(md5(text), 4*i + 3, 2))::BIGINT >= 128
                        THEN ('0x' || substr(md5(text), 4*i + 3, 2))::BIGINT * 256
                             + ('0x' || substr(md5(text), 4*i + 1, 2))::BIGINT - 65536
                        ELSE ('0x' || substr(md5(text), 4*i + 3, 2))::BIGINT * 256
                             + ('0x' || substr(md5(text), 4*i + 1, 2))::BIGINT
                   END) AS v
        FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(64 AS BIGINT) AS n_samples,
           CAST(16000 AS BIGINT) AS sample_rate,
           CAST(list_aggregate(list_transform(v, x -> abs(x)), 'max') AS BIGINT)
               AS peak_abs,
           list_aggregate(list_transform(v, x -> abs(x)), 'sum') * 8 / 64.0
               AS mean_abs,
           sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum') * 8 / 64.0)
               AS rms
    FROM s
    """,
)
def audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, distributed: each synthesized payload is a genuine
    RIFF/WAVE PCM16 mono file parsed by the chunk-walking codec inside
    Arrow-batched mapInPandas, emitting sample count, rate, and amplitude
    statistics (peak |sample|, mean |sample|, RMS).

    Value-check: samples are md5(text)'s 8 little-endian int16s tiled 8×,
    so the oracle recomputes every statistic from the digest hex in SQL —
    a wrong endianness, sign extension, or data-chunk offset diverges all
    three. Integer sums stay exact (peak/mean/RMS inputs are int64); the
    two doubles divide the same exact integers in the same order in both
    dialects, and IEEE sqrt is correctly rounded everywhere.

    Scale: same two-pass Arrow-batched shape as the image path; a real
    corpus stores payloads in its own table and this becomes one pass.
    """
    import math

    import numpy as np

    from lakehouse_workshop_spark.llm.multimodal import (
        decode_wav,
        media_wav_from_documents,
    )

    def stats(mid, payload):
        samples, rate = decode_wav(payload)  # real RIFF parse
        s = samples.astype(np.int64)
        a = np.abs(s)
        return (
            int(mid), len(s), int(rate), int(a.max()),
            int(a.sum()) / 64.0, math.sqrt(int((s * s).sum()) / 64.0),
        )

    return _map_rows(
        media_wav_from_documents(spark, sf_dir),
        ["media_id", "payload"],
        "media_id BIGINT, n_samples BIGINT, sample_rate BIGINT, peak_abs BIGINT, "
        "mean_abs DOUBLE, rms DOUBLE",
        stats,
    )


def _pool_sum_sql(ch: int) -> str:
    # Pooled pixel (r, c, ch) of the 4x4 mean-pooled raster: floor-mean of
    # the 2x2 source block; source byte (y, x, ch) is
    # digest[((y*8 + x)*3 + ch) % 16], hex byte i = substr(hex, 2i+1, 2).
    def b(y: str, x: str) -> str:
        return (
            "('0x' || substr(md5(text), "
            f"2*(((({y})*8 + ({x}))*3 + {ch}) % 16) + 1, 2))::BIGINT"
        )

    return (
        "list_aggregate(list_transform(generate_series(0, 15), k -> ("
        + " + ".join(
            b(f"(k // 4)*2 + {dy}", f"(k % 4)*2 + {dx}")
            for dy in (0, 1)
            for dx in (0, 1)
        )
        + ") // 4), 'sum')"
    )


@query(
    "image_resize_stats",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST(4 AS BIGINT) AS width,
           CAST(4 AS BIGINT) AS height,
           CAST({_pool_sum_sql(0)} AS BIGINT) AS pooled_sum_r,
           CAST({_pool_sum_sql(1)} AS BIGINT) AS pooled_sum_g,
           CAST({_pool_sum_sql(2)} AS BIGINT) AS pooled_sum_b
    FROM documents
    """,
)
def image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL distributed image resize: the generic ``resize_images``
    operator runs with an actual codec-backed resizer (PNG decode →
    2×2 floor-mean pool → PNG re-encode), then the resized payloads are
    decoded AGAIN and per-channel pixel sums emitted — so the bytes that
    cross the second Arrow boundary are genuine 4×4 PNG files produced
    by the first.

    Value-check: pooling is integer floor-mean, so every pooled pixel is
    exactly recomputable from the md5 digest hex in SQL — a resize that
    mixes up block geometry, channel order, or rounding diverges the
    sums.

    Scale: three Arrow-batched mapInPandas passes (synthesize → resize →
    stats), each streaming record batches; a real deployment fuses
    synth/ingest away and pays decode+encode once per image, embarrass-
    ingly parallel. Peak task memory is one batch of rasters.
    """
    import numpy as np

    from lakehouse_workshop_spark.llm.multimodal import (
        decode_png,
        encode_png,
        media_png_from_documents,
        resize_images,
    )

    def png_pool_resizer(payload: bytes, w: int, h: int) -> bytes:
        arr = decode_png(payload)
        sh, sw, _ = arr.shape
        fy, fx = sh // h, sw // w
        pooled = (
            arr.astype(np.int64)
            .reshape(h, fy, w, fx, 3)
            .sum(axis=(1, 3))
            // (fy * fx)
        ).astype(np.uint8)
        return encode_png(pooled)

    def stats(mid, payload):
        arr = decode_png(payload)  # the RESIZED file, decoded anew
        h, w, _ = arr.shape
        sums = arr.reshape(-1, 3).sum(axis=0, dtype="int64")
        return (int(mid), w, h, *(int(c) for c in sums))

    media = media_png_from_documents(spark, sf_dir)
    return _map_rows(
        resize_images(media, 4, 4, resizer=png_pool_resizer),
        ["media_id", "payload"],
        "media_id BIGINT, width BIGINT, height BIGINT, pooled_sum_r BIGINT, "
        "pooled_sum_g BIGINT, pooled_sum_b BIGINT",
        stats,
    )


@query(
    "jpeg_decode_stats",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(8 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           TRUE AS err_ok
    FROM documents
    """,
)
def jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode, distributed: each payload is a genuine baseline
    JFIF file (DCT + Annex-K quantization + Huffman entropy coding,
    `llm/jpeg.py`) decoded inside Arrow-batched mapInPandas.

    JPEG is lossy, so the oracle cannot recompute pixels; this query uses
    the same CONTRACT pattern as ``ivf_topk_kmeans``'s recall check: the
    decoder recomputes the ORIGINAL digest raster from the doc text
    (exactly what the SQL would) and emits ``err_ok`` = mean |decoded −
    original| ≤ {JPEG_ERR_BOUND} per image. Measured envelope on digest
    rasters: ≤ 25.3; an unrelated-noise (broken-decoder) raster measures
    ~85 — the driver's value-hash fails if even ONE image decodes
    outside the bound. Dims come from the decoded raster, not metadata.

    Scale: encode pass + decode pass, both Arrow-batched; per-task peak
    is one record batch of thumbnails.
    """
    import numpy as np
    from pyspark.sql import functions as F

    from lakehouse_workshop_spark.catalog import load_table
    from lakehouse_workshop_spark.llm.jpeg import decode_jpeg
    from lakehouse_workshop_spark.llm.multimodal import (
        JPEG_ERR_BOUND,
        digest_raster,
        media_jpeg_from_documents,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    media = media_jpeg_from_documents(spark, sf_dir).join(
        docs, F.col("media_id") == F.col("doc_id")
    )

    def stats(mid, payload, text):
        arr = decode_jpeg(bytes(payload))
        h, w, _ = arr.shape
        orig = digest_raster(str(text))
        err = float(np.abs(arr.astype(np.int64) - orig.astype(np.int64)).mean())
        return int(mid), w, h, err <= JPEG_ERR_BOUND

    return _map_rows(
        media,
        ["media_id", "payload", "text"],
        "media_id BIGINT, width BIGINT, height BIGINT, err_ok BOOLEAN",
        stats,
    )


PHASH_HAM_T = 6  # measured: planted twins <= 6, unrelated pairs >= 6
PHASH_BANDS = 7  # 7 bands x 9 bits over the 63-bit hash: any pair at
#                  hamming <= 6 shares at least one untouched band


@query(
    "image_phash_dedup",
    oracle=f"""
    SELECT doc_id AS media_id,
           doc_id + {PHASH_TWIN_OFFSET} AS twin_id,
           TRUE AS detected
    FROM documents WHERE doc_id % {PHASH_TWIN_PCT} = {PHASH_TWIN_REM}
    ORDER BY doc_id
    """,
)
def image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over REAL image payloads:
    every 32×32 PPM decodes in Arrow-batched mapInPandas, hashes to a
    63-bit DCT pHash (``llm.multimodal.phash63``), candidates pair by
    banded equi-join ({PHASH_BANDS} bands × 9 bits — any pair within the
    hamming-{PHASH_HAM_T} radius shares an untouched band, the
    SimHash/MinHash banding argument), and the pair set keeps
    ``bit_count(xor) <= {PHASH_HAM_T}``.

    The corpus plants a sub-perceptual near-dup twin (one block +1) for
    every 10th doc; the emission is the planted-pair detection table the
    oracle pins exactly: all twins MUST be found (measured twin hamming
    ≤ 6, unrelated ≥ 6 — the DCT hash separates a 1-level block edit
    from genuinely different images). False-positive pairs are allowed
    by near-dup semantics and do not enter the emission.

    Scale: the hash pass is the only full-payload read; pairing runs on
    (media_id, 8-byte hash) — banding bounds candidates exactly like
    the text LSH family (production: 256-bit pHash, wider bands).
    """
    from lakehouse_workshop_spark.catalog import load_table
    from lakehouse_workshop_spark.llm.multimodal import (
        decode_image,
        media_phash_corpus,
        phash63,
    )

    _map_rows(
        media_phash_corpus(spark, sf_dir),
        ["media_id", "payload"],
        "media_id BIGINT, phash BIGINT",
        # channels are identical: hash the first
        lambda mid, payload: (int(mid), phash63(decode_image(payload)[:, :, 0])),
    ).localCheckpoint(eager=True).createOrReplaceTempView("phash_table")
    # the final join reads the plain table: the synthesizer left the
    # spread ``documents`` view behind, and its pass is checkpointed above
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")

    spark.sql(
        f"""
        SELECT media_id, phash, b,
               shiftright(phash, b * 9) & 511 AS band_key
        FROM phash_table
        LATERAL VIEW explode(sequence(0, {PHASH_BANDS - 1})) t AS b
        """
    ).createOrReplaceTempView("phash_bands")

    spark.sql(
        f"""
        SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
               bit_count(a.phash ^ b.phash) AS hamming
        FROM phash_bands a
        JOIN phash_bands b
          ON a.b = b.b AND a.band_key = b.band_key
             AND a.media_id < b.media_id
        WHERE bit_count(a.phash ^ b.phash) <= {PHASH_HAM_T}
        """
    ).createOrReplaceTempView("phash_pairs")

    return spark.sql(
        f"""
        SELECT d.doc_id AS media_id,
               d.doc_id + {PHASH_TWIN_OFFSET} AS twin_id,
               p.id_a IS NOT NULL AS detected
        FROM (SELECT doc_id FROM documents
              WHERE doc_id % {PHASH_TWIN_PCT} = {PHASH_TWIN_REM}) d
        LEFT JOIN phash_pairs p
          ON p.id_a = d.doc_id
             AND p.id_b = d.doc_id + {PHASH_TWIN_OFFSET}
        ORDER BY d.doc_id
        """
    )


# --- MJPEG-AVI video queries ------------------------------------------------
from lakehouse_workshop_spark.llm.avi import AVI_US_PER_FRAME
from lakehouse_workshop_spark.llm.multimodal import (
    AVI_FRAMES_BASE,
    AVI_FRAMES_MOD,
    PPM_SIDE,
)

_AVI_NF = f"{AVI_FRAMES_BASE} + doc_id % {AVI_FRAMES_MOD}"


@query(
    "video_decode_stats",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST({_AVI_NF} AS BIGINT) AS n_frames,
           CAST({PPM_SIDE} AS BIGINT) AS width,
           CAST({PPM_SIDE} AS BIGINT) AS height,
           CAST(({_AVI_NF}) * {AVI_US_PER_FRAME // 1000} AS BIGINT) AS duration_ms,
           TRUE AS err_ok
    FROM documents
    """,
)
def video_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode, distributed: each payload is a genuine MJPEG
    RIFF-AVI (``llm/avi.py`` — hdrl/movi/idx1 with per-entry index
    validation) whose frames are real baseline JPEGs, demuxed and decoded
    inside Arrow-batched mapInPandas.

    Structure is pinned EXACTLY by the oracle (frame count, dimensions
    from the decoded rasters, duration from the container clock); pixels
    use the ``jpeg_decode_stats`` contract pattern — ``err_ok`` = mean
    |decoded − original| over ALL frames ≤ JPEG_ERR_BOUND, where the
    original is the per-frame digest raster SQL-independent Python
    recomputes. A demuxer bug that drops, duplicates, or reorders a
    frame fails the count or the error bound; a lying idx1 raises in the
    parser.

    Scale: one encode pass + one demux/decode pass, both Arrow-batched;
    per-task peak is one record batch of short clips. The reference has
    no video surface (SURVEY §2 lists none).
    """
    import numpy as np
    from pyspark.sql import functions as F

    from lakehouse_workshop_spark.catalog import load_table
    from lakehouse_workshop_spark.llm.avi import decode_avi
    from lakehouse_workshop_spark.llm.multimodal import (
        JPEG_ERR_BOUND,
        media_avi_from_documents,
        video_frame_pixels,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    media = media_avi_from_documents(spark, sf_dir).join(
        docs, F.col("media_id") == F.col("doc_id")
    )

    def stats(mid, payload, text):
        meta, decoded = decode_avi(bytes(payload))
        h, w, _ = decoded[0].shape
        errs = [
            np.abs(
                d.astype(np.int64)
                - video_frame_pixels(str(text), f).astype(np.int64)
            ).mean()
            for f, d in enumerate(decoded)
        ]
        n = len(decoded)
        return (
            int(mid), n, w, h, n * meta["us_per_frame"] // 1000,
            float(np.mean(errs)) <= JPEG_ERR_BOUND,
        )

    return _map_rows(
        media,
        ["media_id", "payload", "text"],
        "media_id BIGINT, n_frames BIGINT, width BIGINT, height BIGINT, "
        "duration_ms BIGINT, err_ok BOOLEAN",
        stats,
    )


@query(
    "video_frame_sample",
    oracle=f"""
    WITH f AS (SELECT unnest(generate_series(0,
                   {AVI_FRAMES_BASE + AVI_FRAMES_MOD - 2})) AS frame_no)
    SELECT d.doc_id AS media_id, f.frame_no, TRUE AS err_ok
    FROM documents d CROSS JOIN f
    WHERE f.frame_no < {_AVI_NF.replace("doc_id", "d.doc_id")}
    """,
)
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``sample_frames`` seam driven by a REAL demuxer: the injected
    decoder is the AVI container walk (``parse_avi``), so the
    row-expanding operator (1 video row in → n frame rows out) runs the
    path a production ffmpeg-backed sampler would — container parse on
    the full payload, per-frame JPEG decode only on the sampled frames.

    The oracle pins the fan-out structure exactly (which (video, frame)
    pairs exist) and ``err_ok`` pins each sampled frame's decode against
    its digest-raster original — per FRAME, tighter than
    ``video_decode_stats``'s whole-clip mean.
    """
    import numpy as np

    from lakehouse_workshop_spark.catalog import load_table
    from lakehouse_workshop_spark.llm.avi import parse_avi
    from lakehouse_workshop_spark.llm.jpeg import decode_jpeg
    from lakehouse_workshop_spark.llm.multimodal import (
        JPEG_ERR_BOUND,
        media_avi_from_documents,
        sample_frames,
        video_frame_pixels,
    )

    media = media_avi_from_documents(spark, sf_dir)
    frames = sample_frames(media, decoder=lambda p: parse_avi(bytes(p))[1])
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = frames.join(docs, frames["media_id"] == docs["doc_id"])

    def stats(mid, fno, fp, text):
        decoded = decode_jpeg(bytes(fp))
        orig = video_frame_pixels(str(text), int(fno))
        err = float(np.abs(decoded.astype(np.int64) - orig.astype(np.int64)).mean())
        return int(mid), int(fno), err <= JPEG_ERR_BOUND

    return _map_rows(
        joined,
        ["media_id", "frame_no", "frame_payload", "text"],
        "media_id BIGINT, frame_no BIGINT, err_ok BOOLEAN",
        stats,
    )
