"""Multimodal column plumbing: images/audio/video as opaque binary
columns with typed metadata.

The reference touches multimodality three ways: image download to
disk (utils/product_collection_img_array_processor.py:55-68), OCR
over images (utils/details_translator/2_ocr_from_images.py:38-66),
and HTML->PDF rendering (utils/html_to_pdf/pupeeter.py). Generalized
here the way a training-data pipeline needs it:

- binary payloads live in a ``content: binary`` column next to typed
  metadata (uri, media_type, width/height, ...);
- decode / feature-extract / resize / frame-sample run as Arrow-
  batched ``mapInPandas`` stages, one decoder instance per batch;
- decoding is REAL for PNG / BMP / PPM / WAV / RAWV video via the
  pure-stdlib codecs in ``functions/codecs.py`` (``real_image_decode``
  is the default kernel: true dimensions + a real 64-bit average-hash;
  ``sample_video_frames`` random-accesses RAWV frames); only
  entropy-coded formats that need a codec library (JPEG, mp4/h264)
  raise a clearly-marked NotImplementedError — the injection point
  remains for swapping in PIL/opencv/ffmpeg kernels.

``spark.read.format("binaryFile")`` is the scan for on-disk corpora
(S7); synthetic binary frames work identically for tests.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

#: Canonical multimodal record schema (metadata + opaque payload).
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("uri", StringType()),
        StructField("media_type", StringType()),  # image/jpeg, audio/wav, ...
        StructField("content", BinaryType()),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", IntegerType()),
        StructField("phash", StringType()),
    ]
)

AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("duration_s", DoubleType()),
        StructField("rms", DoubleType()),
    ]
)

DecodeKernel = Callable[[bytes], dict]


def stub_image_decode(content: bytes) -> dict:
    """Deterministic fake decoder: derives pseudo width/height and a
    perceptual-hash stand-in from the bytes — for benchmarks over
    synthetic payloads that aren't real images."""
    if content is None:
        raise NotImplementedError("no payload to decode")
    h = hashlib.md5(content).hexdigest()
    return {
        "width": 64 + int(h[:4], 16) % 1920,
        "height": 64 + int(h[4:8], 16) % 1080,
        "n_bytes": len(content),
        "phash": h[:16],
    }


def real_image_decode(content: bytes) -> dict:
    """REAL decode via functions/codecs.py (PNG/BMP/PPM/baseline
    JPEG): true pixel dimensions + 64-bit average-hash over the
    actual pixels. Progressive/arithmetic JPEG and entropy-coded
    video raise NotImplementedError (a codec library is genuinely
    required)."""
    from product_etl_spark.functions import codecs

    px = codecs.decode_image(bytes(content))
    return {
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "n_bytes": len(content),
        "phash": codecs.average_hash(px),
    }


def extract_image_features(
    media: DataFrame, kernel: DecodeKernel = stub_image_decode
) -> DataFrame:
    """Binary image column -> typed feature rows via mapInPandas.

    Arrow-batched; the kernel runs once per row but is instantiated
    per partition — at scale, repartition the corpus so each task
    holds a few hundred MB of payloads and the decoder amortizes.
    """
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                feats = kernel(bytes(content)) if content is not None else {}
                rows.append(
                    {
                        "media_id": media_id,
                        "width": feats.get("width"),
                        "height": feats.get("height"),
                        "n_bytes": feats.get("n_bytes"),
                        "phash": feats.get("phash"),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_FEATURES_SCHEMA])

    return media.select("media_id", "content").mapInPandas(
        batches, schema=IMAGE_FEATURES_SCHEMA
    )


def resize_images(
    media: DataFrame, out_w: int, out_h: int, method: str = "nearest"
) -> DataFrame:
    """Decode -> resize (``nearest`` or ``bilinear``) -> re-encode
    PNG, as an Arrow-batched mapInPandas stage (same MEDIA_SCHEMA out,
    so resize stages compose/chain). Undecodable payloads pass through
    with media_type 'error/undecodable' rather than failing the
    task."""
    if method not in ("nearest", "bilinear"):
        raise ValueError(f"unknown resize method {method!r}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from product_etl_spark.functions import codecs

        resizer = (
            codecs.resize_bilinear if method == "bilinear" else codecs.resize_nearest
        )
        for pdf in it:
            rows = []
            for media_id, uri, content in zip(
                pdf["media_id"], pdf["uri"], pdf["content"]
            ):
                try:
                    px = codecs.decode_image(bytes(content))
                    out = codecs.encode_png(resizer(px, out_w, out_h))
                    mt = "image/png"
                except Exception:
                    out, mt = bytes(content), "error/undecodable"
                rows.append(
                    {"media_id": media_id, "uri": uri, "media_type": mt,
                     "content": out}
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA])

    return media.select("media_id", "uri", "media_type", "content").mapInPandas(
        batches, schema=MEDIA_SCHEMA
    )


def extract_audio_features(media: DataFrame) -> DataFrame:
    """WAV binary column -> (sample_rate, channels, duration, RMS)
    via the stdlib wave codec — real audio decode, mapInPandas."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from product_etl_spark.functions import codecs

        for pdf in it:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    feats = codecs.decode_wav(bytes(content))
                except Exception:
                    feats = {}
                rows.append(
                    {
                        "media_id": media_id,
                        "sample_rate": feats.get("sample_rate"),
                        "n_channels": feats.get("n_channels"),
                        "duration_s": feats.get("duration_s"),
                        "rms": feats.get("rms"),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_FEATURES_SCHEMA])

    return media.select("media_id", "content").mapInPandas(
        batches, schema=AUDIO_FEATURES_SCHEMA
    )


AUDIO_SPECTRAL_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("sample_rate", IntegerType()),
        StructField("duration_s", DoubleType()),
        StructField("zcr", DoubleType()),
        StructField("spectral_centroid_hz", DoubleType()),
        StructField("rolloff_hz", DoubleType()),
        StructField("band_energy", ArrayType(DoubleType())),
    ]
)


def extract_audio_spectral(media: DataFrame, n_bands: int = 8) -> DataFrame:
    """Real spectral analysis over the WAV binary column — numpy rFFT,
    no audio library: zero-crossing rate, spectral centroid, 85%%
    rolloff frequency, and ``n_bands`` linearly-spaced band energy
    fractions up to Nyquist. These are the classic features an audio
    curation pipeline filters on (silence/tone detection, bandwidth
    checks, speech-vs-noise heuristics). Undecodable payloads yield a
    null-feature row instead of failing the task. Arrow-batched
    mapInPandas; per-row cost is O(n log n) in the sample count."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from product_etl_spark.functions import codecs

        for pdf in it:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                row = {
                    "media_id": media_id, "sample_rate": None, "duration_s": None,
                    "zcr": None, "spectral_centroid_hz": None, "rolloff_hz": None,
                    "band_energy": None,
                }
                try:
                    rate, x = codecs.wav_samples(bytes(content))
                    if x.size:
                        spec = np.abs(np.fft.rfft(x)) ** 2
                        freqs = np.fft.rfftfreq(x.size, d=1.0 / rate)
                        total = float(spec.sum()) or 1.0
                        centroid = float((freqs * spec).sum() / total)
                        cum = np.cumsum(spec)
                        rolloff = float(freqs[int(np.searchsorted(cum, 0.85 * cum[-1]))])
                        edges = np.linspace(0, rate / 2, n_bands + 1)
                        # bin by index so the Nyquist bin (freq ==
                        # rate/2 exactly, present for even sample
                        # counts) lands in the LAST band instead of
                        # falling out of every half-open interval
                        idx = np.minimum(
                            np.searchsorted(edges, freqs, side="right") - 1,
                            n_bands - 1,
                        )
                        band = [
                            float(spec[idx == b].sum() / total)
                            for b in range(n_bands)
                        ]
                        row.update(
                            sample_rate=rate,
                            duration_s=x.size / rate,
                            zcr=float(np.mean(np.abs(np.diff(np.signbit(x))))),
                            spectral_centroid_hz=centroid,
                            rolloff_hz=rolloff,
                            band_energy=band,
                        )
                except Exception:
                    pass
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_SPECTRAL_SCHEMA])

    return media.select("media_id", "content").mapInPandas(
        batches, schema=AUDIO_SPECTRAL_SCHEMA
    )


VIDEO_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("frame_idx", IntegerType()),
        StructField("ts_s", DoubleType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("frame_png", BinaryType()),
    ]
)


def sample_video_frames(media: DataFrame, every_n: int = 25) -> DataFrame:
    """Frame sampling: video binary column -> one row per sampled
    frame (every ``every_n``-th), each re-encoded as a standalone PNG
    ready for the image stages (resize/feature-extract chain on the
    output unchanged).

    Real decode for the uncompressed RAWV container
    (functions/codecs.py — header seek + random-access frame reads,
    so per-frame memory is flat regardless of clip length);
    entropy-coded video hits the same NotImplementedError gate as
    JPEG and surfaces as a zero-frame media_id rather than a task
    failure. Arrow-batched mapInPandas; row explosion is bounded by
    n_frames/every_n per clip.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from product_etl_spark.functions import codecs

        cols = [f.name for f in VIDEO_FRAME_SCHEMA]
        for pdf in it:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                data = bytes(content)
                try:
                    info = codecs.rawv_info(data)
                except Exception:
                    continue  # gated format: no frames, task survives
                fps = info["fps"] or 1
                for idx in range(0, info["n_frames"], every_n):
                    try:
                        frame = codecs.decode_rawv_frame(data, idx)
                    except Exception:
                        # truncated body behind a valid header: keep
                        # the frames that exist, never fail the task
                        break
                    rows.append(
                        {
                            "media_id": media_id,
                            "frame_idx": idx,
                            "ts_s": idx / fps,
                            "width": info["width"],
                            "height": info["height"],
                            "frame_png": codecs.encode_png(frame),
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.select("media_id", "content").mapInPandas(
        batches, schema=VIDEO_FRAME_SCHEMA
    )


def synthesize_media(df: DataFrame, uri_col: str, media_type: str) -> DataFrame:
    """Deterministic fake payloads for tests/benchmarks: content =
    md5(uri) bytes repeated. Lets the full multimodal plumbing run in
    an environment with no codecs and no network."""
    return df.select(
        F.md5(F.col(uri_col)).alias("media_id"),
        F.col(uri_col).alias("uri"),
        F.lit(media_type).alias("media_type"),
        F.repeat(F.unhex(F.md5(F.col(uri_col))), 4).cast("binary").alias("content"),
    )


#: (media_id, phash) rows from the perceptual-hash stage.
PHASH_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("phash", StringType()),
    ]
)


def image_phash(media: DataFrame, method: str = "dct") -> DataFrame:
    """Perceptual 64-bit image hash per row: ``dct`` (codecs.phash_dct,
    the classic pHash — robust to brightness/contrast and re-encoding
    noise) or ``average`` (codecs.average_hash). Undecodable or NULL
    payloads yield a NULL phash (callers filter; a corrupt image must
    not kill a 100 TB dedup job — the quarantine pattern, not the
    raise-per-row one appropriate for OWN-pipeline-generated
    embeddings in pq/sq encode)."""
    from product_etl_spark.functions import codecs

    fn = codecs.phash_dct if method == "dct" else codecs.average_hash

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                h = None
                if content is not None:
                    try:
                        h = fn(codecs.decode_image(bytes(content)))
                    except Exception:
                        h = None
                out.append({"media_id": media_id, "phash": h})
            yield pd.DataFrame(out, columns=["media_id", "phash"])

    return media.select("media_id", "content").mapInPandas(
        batches, schema=PHASH_SCHEMA
    )


def image_near_dup_pairs(
    media: DataFrame,
    max_hamming: int = 6,
    band_bits: int = 8,
    method: str = "dct",
) -> DataFrame:
    """Near-duplicate image pairs by perceptual-hash Hamming distance:
    (id_a, id_b, hamming) for every pair within ``max_hamming`` bits —
    the image twin of the LSH text dedup and the LAION-style
    re-encoded/resized/brightness-shifted duplicate filter.

    Scale shape: NEVER all-pairs. The 64-bit hashes are split into
    64/band_bits bands (embdedup.hamming_band_index — the multi-index
    pigeonhole: two hashes within d bits must agree on at least one
    band when d <= n_bands - 1, so the band self-join is EXACT for
    ``max_hamming <= n_bands - 1`` and the function raises beyond it
    rather than silently losing candidates). Exact bit_count verify
    runs only on band-collided candidates. Decode+hash is one Arrow-
    batched map; everything after is JVM integer ops keyed on
    uniformly-distributed band values.
    """
    hashed = image_phash(media, method).filter(F.col("phash").isNotNull())
    return phash_near_dup_pairs(hashed, max_hamming, band_bits)


def phash_near_dup_pairs(
    hashed: DataFrame,
    max_hamming: int = 6,
    band_bits: int = 8,
) -> DataFrame:
    """The banded-Hamming pairing over an already-hashed (media_id,
    phash hex-string) frame — the candidate engine image / tile /
    frame dedup all share. Exact for max_hamming <= n_bands - 1
    (pigeonhole); raises beyond."""
    from product_etl_spark.operators.embdedup import (
        _hamming,
        hamming_band_index,
    )

    n_bands = 64 // band_bits
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs > {max_hamming} bands for "
            f"pigeonhole exactness; got {n_bands} (band_bits={band_bits})"
        )
    coded = hashed.select(
        "media_id",
        F.array(
            F.conv(F.substring("phash", 1, 8), 16, 10).cast("long"),
            F.conv(F.substring("phash", 9, 8), 16, 10).cast("long"),
        ).alias("_code"),
    )
    bidx = hamming_band_index(coded, "media_id", "_code", 64, band_bits)
    a = bidx.select(
        F.col("media_id").alias("id_a"),
        F.col("_code").alias("_code_a"),
        "band",
        "bv",
    )
    b = bidx.select(
        F.col("media_id").alias("id_b"),
        F.col("_code").alias("_code_b"),
        F.col("band").alias("_band_b"),
        F.col("bv").alias("_bv_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("band") == F.col("_band_b"))
            & (F.col("bv") == F.col("_bv_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b", "_code_a", "_code_b")
        .distinct()
    )
    return (
        cand.withColumn("hamming", _hamming("_code_a", "_code_b"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def video_near_dup_pairs(
    media: DataFrame,
    every_n: int = 5,
    min_shared_frames: int = 2,
    max_hamming: int = 6,
    band_bits: int = 8,
    method: str = "dct",
) -> DataFrame:
    """Near-duplicate VIDEO pairs — the video twin of the image pHash
    dedup:
    sample every ``every_n``-th frame (sample_video_frames), hash
    each sampled frame with the image perceptual hash, pair frames
    across videos through the SAME banded-Hamming machinery, and
    call two videos near-duplicates when at least
    ``min_shared_frames`` of their sampled frames match within
    ``max_hamming`` bits (re-encoded/rescaled copies match on most
    frames; videos sharing only a stock intro match on one).

    ``n_frame_matches`` counts DISTINCT matched frame indices on the
    sparser side — least(distinct frames of a, distinct frames of b)
    — NOT raw frame-pair rows: a static video whose one repeated
    frame collides with many frames of another would otherwise reach
    the floor on pair multiplicity alone while genuinely sharing a
    single frame's content (r7 advice finding).

    Output: (vid_a, vid_b, n_frame_matches, min_hamming), vid_a <
    vid_b.

    Scale shape: frame sampling and hashing are Arrow-batched maps;
    the cross-video pairing is the image path's multi-index pigeonhole
    band join over FRAME hashes (never all-pairs, exact for
    max_hamming <= n_bands-1); the final aggregate is one
    (vid_a, vid_b) groupBy over frame-match rows (two exact
    countDistincts over sampled-frame indices, bounded per pair by
    frames/every_n). Same-video frame pairs are filtered before the
    aggregate."""
    frames = sample_video_frames(media, every_n=every_n)
    fm = frames.filter(F.col("frame_png").isNotNull()).select(
        F.concat_ws(
            "\x1f", "media_id", F.col("frame_idx").cast("string")
        ).alias("media_id"),
        F.col("frame_png").alias("content"),
    )
    fpairs = image_near_dup_pairs(
        fm, max_hamming=max_hamming, band_bits=band_bits, method=method
    )
    pa, pb = F.split(F.col("id_a"), "\x1f"), F.split(F.col("id_b"), "\x1f")
    swap = pa.getItem(0) > pb.getItem(0)  # keep each frame with its video
    cross = fpairs.select(
        F.when(swap, pb.getItem(0)).otherwise(pa.getItem(0)).alias("vid_a"),
        F.when(swap, pa.getItem(0)).otherwise(pb.getItem(0)).alias("vid_b"),
        F.when(swap, pb.getItem(1)).otherwise(pa.getItem(1)).alias("frame_a"),
        F.when(swap, pa.getItem(1)).otherwise(pb.getItem(1)).alias("frame_b"),
        "hamming",
    ).filter(F.col("vid_a") != F.col("vid_b"))
    return (
        cross.groupBy("vid_a", "vid_b")
        .agg(
            F.least(
                F.countDistinct("frame_a"), F.countDistinct("frame_b")
            ).alias("n_frame_matches"),
            F.min("hamming").alias("min_hamming"),
        )
        .filter(F.col("n_frame_matches") >= min_shared_frames)
    )


TILE_PHASH_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("tile", StringType()),
        StructField("phash", StringType()),
    ]
)


def image_tile_phash(
    media: DataFrame, grid: int = 2, method: str = "dct"
) -> DataFrame:
    """Per-REGION perceptual hashes: the full image (tile 'full') plus
    every cell of a grid x grid crop lattice (tile 'r,c'), each hashed
    independently — the crop-resistance primitive: a whole-image hash
    changes completely when an image is cropped, but an aligned crop
    IS one of the original's tiles, so its full-image hash matches
    that tile's hash. Undecodable payloads quarantine to NULL rows
    (the image_phash contract)."""
    from product_etl_spark.functions import codecs

    fn = codecs.phash_dct if method == "dct" else codecs.average_hash

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                tiles = {"full": None}
                tiles.update(
                    {f"{r},{c}": None for r in range(grid) for c in range(grid)}
                )
                if content is not None:
                    try:
                        px = codecs.decode_image(bytes(content))
                        h, w = px.shape[0], px.shape[1]
                        tiles["full"] = fn(px)
                        th, tw = h // grid, w // grid
                        if th > 0 and tw > 0:
                            for r in range(grid):
                                for c in range(grid):
                                    crop = px[
                                        r * th : (r + 1) * th,
                                        c * tw : (c + 1) * tw,
                                    ]
                                    tiles[f"{r},{c}"] = fn(crop)
                    except Exception:
                        tiles = {k: None for k in tiles}
                out.extend(
                    {"media_id": media_id, "tile": t, "phash": h}
                    for t, h in tiles.items()
                )
            yield pd.DataFrame(out, columns=["media_id", "tile", "phash"])

    return media.select("media_id", "content").mapInPandas(
        batches, schema=TILE_PHASH_SCHEMA
    )


def image_crop_dup_pairs(
    media: DataFrame,
    grid: int = 2,
    max_hamming: int = 6,
    band_bits: int = 8,
    method: str = "dct",
    min_tile_matches: int = 1,
) -> DataFrame:
    """Crop-/region-duplicate image pairs: two images match when at
    least ``min_tile_matches`` DISTINCT regions of each (full image or
    grid tile) hash within ``max_hamming`` bits — catching the
    tile-aligned crop (image B is a quadrant/half of image A) that
    whole-image pHash (image_near_dup_pairs) structurally misses,
    because cropping rewrites every DCT coefficient of the full hash.

    Output: (id_a, id_b, n_tile_matches, min_hamming), id_a < id_b.

    Scale shape: the video-dedup pattern applied to space instead of
    time — region hashes ride the composite-id band join
    (phash_near_dup_pairs: pigeonhole-exact, never all-pairs), then
    ONE (id_a, id_b) groupBy counts DISTINCT matched regions per side
    (the multiplicity lesson from video: a flat region matching many
    tiles can't inflate the count). Cost: (grid^2 + 1) hash rows per
    image, decode still once per image."""
    tiles = image_tile_phash(media, grid=grid, method=method)
    tm = tiles.filter(F.col("phash").isNotNull()).select(
        F.concat_ws("\x1f", "media_id", "tile").alias("media_id"),
        "phash",
    )
    tpairs = phash_near_dup_pairs(tm, max_hamming, band_bits)
    pa, pb = F.split(F.col("id_a"), "\x1f"), F.split(F.col("id_b"), "\x1f")
    swap = pa.getItem(0) > pb.getItem(0)
    cross = tpairs.select(
        F.when(swap, pb.getItem(0)).otherwise(pa.getItem(0)).alias("id_a"),
        F.when(swap, pa.getItem(0)).otherwise(pb.getItem(0)).alias("id_b"),
        F.when(swap, pb.getItem(1)).otherwise(pa.getItem(1)).alias("tile_a"),
        F.when(swap, pa.getItem(1)).otherwise(pb.getItem(1)).alias("tile_b"),
        "hamming",
    ).filter(F.col("id_a") != F.col("id_b"))
    return (
        cross.groupBy("id_a", "id_b")
        .agg(
            F.least(
                F.countDistinct("tile_a"), F.countDistinct("tile_b")
            ).alias("n_tile_matches"),
            F.min("hamming").alias("min_hamming"),
        )
        .filter(F.col("n_tile_matches") >= min_tile_matches)
    )
