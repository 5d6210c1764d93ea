"""Multimodal (image/audio/video) column operators.

Extension surface for training-data pipelines (no counterpart in the
reference): media travels as an opaque ``binary`` column plus a typed
metadata struct; decode/feature-extraction/frame-sampling run as
Arrow-batched pandas iterators over ``mapInPandas`` so the (heavy,
C-library-backed) per-item work never goes through row-at-a-time Python.

Decode kernels: ``operators/codecs.py`` provides REAL dependency-free
decoders (full PNG chunk/zlib/unfilter parse, RIFF/WAVE PCM parse) that
are the DEFAULTS for the feature extractors; Pillow/ffmpeg-backed
decoders swap in via the ``decoder=`` parameter for formats a pure
Python parser can't cover (JPEG/MP3/MP4 — those libs aren't in this
environment).  The ``*_stub`` kernels remain for deterministic
oracle-pairing on synthetic bytes.

Scale notes: media bytes dominate row size — repartition so a batch of
rows fits executor memory (``target_rows_per_batch`` guidance below),
never ``collect()`` binaries, and push metadata-only filters BEFORE the
decode stage so parquet column pruning keeps undecoded bytes unread.
"""

from __future__ import annotations

from typing import Callable, Iterator, Optional

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: metadata struct carried alongside every media binary
MEDIA_METADATA_SCHEMA = StructType(
    [
        StructField("media_type", StringType()),     # image|audio|video
        StructField("format", StringType()),         # jpeg|png|wav|mp4|...
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("size_bytes", LongType()),
    ]
)


def with_media_metadata(
    df: DataFrame,
    binary_col: str,
    media_type: str,
    fmt: Optional[str] = None,
) -> DataFrame:
    """Attach the typed metadata struct next to a binary column.

    Width/height/duration are left null until a decode pass fills them;
    ``size_bytes`` is computed immediately (pure expression).
    """
    return df.withColumn(
        f"{binary_col}_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).cast("string").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.length(F.col(binary_col)).cast("long").alias("size_bytes"),
        ),
    )


# ---------------------------------------------------------------------------
# decode kernels (STUBS — swap via decoder=)
# ---------------------------------------------------------------------------


def decode_image_stub(data: bytes) -> dict:
    """STUB image decode: deterministic fake dimensions + pixel stats.

    A real deployment passes ``decoder=`` backed by Pillow/libvips::

        def pillow_decoder(data: bytes) -> dict:
            img = PIL.Image.open(io.BytesIO(data))
            ...

    The stub derives stable pseudo-dimensions from the byte content so
    tests are deterministic without any codec library.
    """
    if data is None:
        raise ValueError("cannot decode null media bytes")
    n = len(data)
    checksum = sum(data[:64]) if n else 0
    return {
        "width": 16 + checksum % 64,
        "height": 16 + (checksum // 64) % 64,
        "mean_intensity": (sum(data[:256]) / max(min(n, 256), 1)) if n else 0.0,
    }


IMAGE_FEATURE_SCHEMA_SUFFIX = [
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("mean_intensity", DoubleType()),
    StructField("decode_error", StringType()),
]


def extract_image_features(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    decoder: Optional[Callable[[bytes], dict]] = None,
    batch_size_hint: int = 256,
) -> DataFrame:
    """Decode images and emit per-image features via ``mapInPandas``.

    Output: ``(id, width, height, mean_intensity, decode_error)`` — decode
    failures land in ``decode_error`` instead of failing the job (at
    billions of crawled images some bytes are always corrupt).

    The default decoder is the REAL pure-Python PNG parser
    (:func:`~hermes_spark.operators.codecs.decode_image`); pass a
    Pillow-backed callable for JPEG/WebP etc., or ``decode_image_stub``
    for deterministic synthetic-byte tests.
    """
    if decoder is None:
        from .codecs import decode_image

        decoder = decode_image
    out_schema = StructType(
        [df.schema[id_col]] + IMAGE_FEATURE_SCHEMA_SUFFIX
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                rec = {id_col: row[id_col], "width": None, "height": None,
                       "mean_intensity": None, "decode_error": None}
                try:
                    feats = decoder(row[binary_col])
                    rec.update(
                        width=feats.get("width"),
                        height=feats.get("height"),
                        mean_intensity=feats.get("mean_intensity"),
                    )
                except Exception as exc:  # noqa: BLE001 - per-item isolation
                    rec["decode_error"] = str(exc)
                rows.append(rec)
            yield pd.DataFrame(
                rows, columns=[id_col, "width", "height", "mean_intensity",
                               "decode_error"]
            )

    return df.select(id_col, binary_col).mapInPandas(process, out_schema)


def frame_sample(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    every_n_ms: int = 1000,
    max_frames: int = 8,
    decoder: Optional[Callable[[bytes, int, int], list]] = None,
) -> DataFrame:
    """Sample frames from video binaries: one output row per sampled frame
    ``(id, frame_idx, frame_ts_ms, frame_bytes)`` via ``mapInPandas``.

    The default (stub) "decoder" slices the source bytes deterministically
    — real deployments pass an ffmpeg-backed ``decoder(data, every_n_ms,
    max_frames) -> list[(idx, ts_ms, bytes)]``.
    """
    out_schema = StructType(
        [
            df.schema[id_col],
            StructField("frame_idx", IntegerType()),
            StructField("frame_ts_ms", LongType()),
            StructField("frame_bytes", BinaryType()),
        ]
    )

    def stub_decoder(data: bytes, every: int, cap: int) -> list:
        if not data:
            return []
        n_frames = min(cap, max(len(data) // 1024, 1))
        chunk = max(len(data) // n_frames, 1)
        return [
            (i, i * every, bytes(data[i * chunk: i * chunk + min(chunk, 4096)]))
            for i in range(n_frames)
        ]

    decode = decoder or stub_decoder

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                for idx, ts_ms, frame in decode(
                    row[binary_col], every_n_ms, max_frames
                ):
                    rows.append(
                        {
                            id_col: row[id_col],
                            "frame_idx": idx,
                            "frame_ts_ms": ts_ms,
                            "frame_bytes": frame,
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "frame_idx", "frame_ts_ms", "frame_bytes"],
            )

    return df.select(id_col, binary_col).mapInPandas(process, out_schema)


def decode_audio_stub(data: bytes) -> dict:
    """STUB audio decode: deterministic fake duration / sample-rate / RMS.

    A real deployment passes ``decoder=`` backed by soundfile/torchaudio::

        def sf_decoder(data: bytes) -> dict:
            wav, sr = soundfile.read(io.BytesIO(data))
            ...

    The stub derives stable pseudo-properties from the byte content so
    tests are deterministic without any codec library.
    """
    if data is None:
        raise ValueError("cannot decode null media bytes")
    n = len(data)
    checksum = sum(data[:64]) if n else 0
    sample_rate = (8000, 16000, 22050, 44100)[checksum % 4]
    # pretend 16-bit mono PCM
    duration_ms = int(n * 1000 / (sample_rate * 2)) if n else 0
    rms = (sum(b * b for b in data[:256]) / max(min(n, 256), 1)) ** 0.5 if n else 0.0
    return {
        "sample_rate": sample_rate,
        "duration_ms": duration_ms,
        "rms_energy": rms,
    }


AUDIO_FEATURE_SCHEMA_SUFFIX = [
    StructField("sample_rate", IntegerType()),
    StructField("duration_ms", LongType()),
    StructField("rms_energy", DoubleType()),
    StructField("decode_error", StringType()),
]


def extract_audio_features(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    decoder: Optional[Callable[[bytes], dict]] = None,
) -> DataFrame:
    """Decode audio binaries and emit per-clip features via
    ``mapInPandas`` — same contract as ``extract_image_features``: output
    ``(id, sample_rate, duration_ms, rms_energy, decode_error)`` with
    per-item failure isolation (corrupt bytes land in ``decode_error``).

    The default decoder is the REAL RIFF/WAVE PCM parser
    (:func:`~hermes_spark.operators.codecs.decode_audio`); pass a
    soundfile/torchaudio-backed callable for compressed formats, or
    ``decode_audio_stub`` for deterministic synthetic-byte tests.
    """
    if decoder is None:
        from .codecs import decode_audio

        decoder = decode_audio
    out_schema = StructType([df.schema[id_col]] + AUDIO_FEATURE_SCHEMA_SUFFIX)

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                rec = {id_col: row[id_col], "sample_rate": None,
                       "duration_ms": None, "rms_energy": None,
                       "decode_error": None}
                try:
                    feats = decoder(row[binary_col])
                    rec.update(
                        sample_rate=feats.get("sample_rate"),
                        duration_ms=feats.get("duration_ms"),
                        rms_energy=feats.get("rms_energy"),
                    )
                except Exception as exc:  # noqa: BLE001 - per-item isolation
                    rec["decode_error"] = str(exc)
                rows.append(rec)
            yield pd.DataFrame(
                rows, columns=[id_col, "sample_rate", "duration_ms",
                               "rms_energy", "decode_error"]
            )

    return df.select(id_col, binary_col).mapInPandas(process, out_schema)


# ---------------------------------------------------------------------------
# perceptual image hashing (r12c)
# ---------------------------------------------------------------------------


def image_phash(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    decoder: Optional[Callable[[bytes], "object"]] = None,
    hash_size: int = 8,
) -> DataFrame:
    """Perceptual 64-bit image hash per row: ``(id, phash, decode_error)``.

    The content-level sibling of byte-exact image dedup: re-encoded,
    recompressed, brightness-shifted or lightly edited copies of an
    image keep (nearly) the same pHash, so near-duplicate IMAGES are
    found the same way near-duplicate TEXT is found with SimHash —
    hamming distance on a 64-bit fingerprint (kernel:
    :func:`~hermes_spark.operators.codecs.phash64` — grayscale, 32x32
    area resample, 2-D DCT, median threshold on the low-frequency
    block).

    ``decoder`` maps bytes -> uint8 pixel array; the default is the
    real PNG/JPEG parser
    (:func:`~hermes_spark.operators.codecs.decode_image_pixels`).
    Decode/hash failures land in ``decode_error`` (per-item isolation);
    ``phash`` is null for those rows.

    Scale: one scan, zero shuffles — the hash is a pure per-row kernel
    over Arrow batches.  At 100 TB the decode dominates; push
    metadata-only filters before this operator so pruned rows never
    decode, and size partitions so a batch of binaries fits memory
    (multimodal module notes above).
    """
    if decoder is None:
        from .codecs import decode_image_pixels

        decoder = decode_image_pixels
    from .codecs import phash64

    out_schema = StructType(
        [
            df.schema[id_col],
            StructField("phash", LongType()),
            StructField("decode_error", StringType()),
        ]
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                rec = {id_col: row[id_col], "phash": None,
                       "decode_error": None}
                try:
                    rec["phash"] = phash64(
                        decoder(row[binary_col]), hash_size=hash_size
                    )
                except Exception as exc:  # noqa: BLE001 - per-item isolation
                    rec["decode_error"] = str(exc)
                rows.append(rec)
            out = pd.DataFrame(rows, columns=[id_col, "phash", "decode_error"])
            # nullable Int64, NOT object->float64: one null in the batch
            # would otherwise coerce the column to float64 and round
            # every 64-bit hash to 53-bit precision (silent low-bit
            # corruption — caught by the streaming corrupt-row test)
            out["phash"] = pd.array(
                [r["phash"] for r in rows], dtype="Int64"
            )
            yield out

    return df.select(id_col, binary_col).mapInPandas(process, out_schema)


def image_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    max_hamming: int = 6,
    decoder: Optional[Callable[[bytes], "object"]] = None,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """Near-duplicate image pairs: pHash + the banded hamming join.

    ``(id_a, id_b, hamming)`` for pairs whose perceptual hashes are
    within ``max_hamming`` bits (default 6 of 64 — recompressed/
    brightness-shifted copies measure 0-4 bits apart, unrelated images
    ~25-40).  Undecodable rows are skipped (their hash is null).

    Same pigeonhole blocking as SimHash near-dups
    (:func:`~hermes_spark.operators.dedup.fingerprint_near_dup_pairs`):
    ONE shuffle on (block index, block bits), in-bucket pairing, never
    an all-pairs join — over-cap buckets collapse (identical-hash
    chains + distinct-hash representative pairs), so ``max_bucket_size``
    bounds the quadratic work of degenerate buckets (e.g. millions of
    identical thumbnails) while identical copies still dedup; only
    near-miss pairs inside a diverse hot bucket are skipped.
    """
    from .dedup import fingerprint_near_dup_pairs

    hashes = image_phash(
        df, id_col, binary_col, decoder=decoder
    ).filter(F.col("phash").isNotNull())
    return fingerprint_near_dup_pairs(
        hashes, id_col, "phash", bits=64, max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )


def _check_aligned(bucket: int, vids, frames, fps) -> None:
    """Raise ``ValueError`` unless one gathered bucket's video-id,
    frame-index and fingerprint lists have equal lengths: the pair
    kernel pairs on position, so a misaligned bucket would give a frame
    another member's fingerprint."""
    if not len(vids) == len(frames) == len(fps):
        raise ValueError(
            f"misaligned bucket lists: bucket {bucket} has {len(vids)} "
            f"video ids, {len(frames)} frame indices and {len(fps)} "
            "fingerprints"
        )


def video_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    every_n_ms: int = 1000,
    max_frames: int = 8,
    frame_decoder: Optional[Callable[[bytes, int, int], list]] = None,
    image_decoder: Optional[Callable[[bytes], "object"]] = None,
    max_hamming: int = 6,
    min_overlap_frac: float = 0.5,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """Near-duplicate VIDEO pairs via frame-level perceptual hashing.

    The scalable alternative to comparing videos pairwise: sample up to
    ``max_frames`` frames per video (:func:`frame_sample`), pHash each
    frame (:func:`~hermes_spark.operators.codecs.phash64`), then find
    cross-video frame matches with the same pigeonhole-banded hamming
    join as image/SimHash near-dups — two videos never meet unless some
    frame pair agrees exactly on a hash block.  A re-encoded or
    trimmed copy shares most frame hashes; unrelated videos share none.

    Returns ``(id_a, id_b, matched_a, matched_b, n_frames_a,
    n_frames_b, overlap_frac)`` where ``matched_x`` counts DISTINCT
    frames of x within ``max_hamming`` of some frame of the other
    video, ``overlap_frac = max(matched_a/n_frames_a,
    matched_b/n_frames_b)`` (containment — robust to one side having
    extra frames), filtered to ``>= min_overlap_frac``.

    ``frame_decoder`` must yield real image bytes per frame (an
    ffmpeg-backed callable in production; tests synthesize PNG frames)
    — the default byte-slicing stub produces frames that fail image
    decode, in which case those frames simply drop out (null hash).

    Scale: frame sampling and hashing are per-row kernels (zero
    shuffle); the band join shuffles (videos x frames x blocks) rows
    ONCE; the overlap aggregation groups the (small) match table.  No
    stage is quadratic in videos.
    """
    from .codecs import phash64

    if image_decoder is None:
        from .codecs import decode_image_pixels

        image_decoder = decode_image_pixels

    frames = frame_sample(
        df, id_col, binary_col, every_n_ms=every_n_ms,
        max_frames=max_frames, decoder=frame_decoder,
    )

    hash_schema = StructType(
        [
            frames.schema[id_col],
            StructField("frame_idx", IntegerType()),
            StructField("phash", LongType()),
        ]
    )

    def hash_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                try:
                    ph = phash64(image_decoder(row["frame_bytes"]))
                except Exception:  # noqa: BLE001 - per-frame isolation
                    ph = None
                rows.append(
                    {
                        id_col: row[id_col],
                        "frame_idx": row["frame_idx"],
                        "phash": ph,
                    }
                )
            out = pd.DataFrame(rows, columns=[id_col, "frame_idx", "phash"])
            # nullable Int64 (see image_phash): object->float64 coercion
            # under any null would corrupt 64-bit frame hashes
            out["phash"] = pd.array(
                [r["phash"] for r in rows], dtype="Int64"
            )
            yield out

    fhash = (
        frames.select(id_col, "frame_idx", "frame_bytes")
        .mapInPandas(hash_frames, hash_schema)
        .filter(F.col("phash").isNotNull())
    )

    n_frames = fhash.groupBy(id_col).agg(
        F.count("*").alias("__nf")
    )

    bits, block_bits = 64, 8
    n_blocks = max(max_hamming + 1, bits // block_bits)
    width = bits // n_blocks
    block_key = F.concat_ws(
        "_",
        F.col("__blk").cast("string"),
        F.expr(f"shiftright(phash, __blk * {width})")
        .bitwiseAND(F.lit((1 << width) - 1))
        .cast("string"),
    )
    bucketed = (
        fhash.select(
            F.col(id_col).alias("__vid"),
            "frame_idx",
            "phash",
            F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("__blk"),
        )
        .select("__vid", "frame_idx", "phash", block_key.alias("__k"))
    )
    # in-bucket frame pairing runs as the same chunked numpy XOR +
    # popcount kernel as fingerprint_near_dup_pairs — 8-bit blocks
    # saturate once frames >> 256 per block, and a Catalyst
    # slice/struct pairing materializes every candidate (the
    # 200k-image probe measured it heap-unbounded; BASELINE.md r12c)
    import numpy as np

    from .dedup import _bucket_pairs_with_collapse

    grouped = (
        bucketed.groupBy("__k")
        .agg(
            F.collect_list("__vid").alias("__vids"),
            F.collect_list("frame_idx").alias("__frames"),
            F.collect_list("phash").alias("__fps"),
        )
        .filter(F.size("__vids") >= 2)
    )
    # over-cap buckets collapse in the kernel (identical chains +
    # representative pairs) rather than dropping — see
    # dedup._bucket_pairs_with_collapse
    grouped = grouped.select("__vids", "__frames", "__fps")
    vid_type = frames.schema[id_col].dataType
    match_schema = StructType(
        [
            StructField("id_a", vid_type),
            StructField("id_b", vid_type),
            StructField("frame_a", IntegerType()),
            StructField("frame_b", IntegerType()),
        ]
    )

    def pair_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parts = {"id_a": [], "id_b": [], "frame_a": [], "frame_b": []}
            for bucket, (vids_cell, frames_cell, fps_cell) in enumerate(
                zip(pdf["__vids"], pdf["__frames"], pdf["__fps"])
            ):
                # the collect_lists fill in one aggregation pass, so
                # index i of all three comes from the same input row;
                # pair on POSITION, then key the hamming hits back to
                # (video, frame) and drop same-video hits
                _check_aligned(bucket, vids_cell, frames_cell, fps_cell)
                f = np.asarray(fps_cell, dtype=np.int64)
                vids = np.asarray(vids_cell)
                frames_arr = np.asarray(frames_cell, dtype=np.int64)
                # deterministic representative choice for the over-cap
                # collapse: rank members by (video, frame)
                ranks = np.empty(len(vids), dtype=np.int64)
                ranks[np.lexsort((frames_arr, vids))] = np.arange(len(vids))
                for pa, pb, _h in _bucket_pairs_with_collapse(
                    ranks, f, max_hamming, max_bucket_size
                ):
                    va, vb = vids[pa], vids[pb]
                    keep = va != vb
                    if not keep.any():
                        continue
                    va, vb = va[keep], vb[keep]
                    fa = frames_arr[pa[keep]]
                    fb = frames_arr[pb[keep]]
                    swap = va > vb
                    parts["id_a"].append(np.where(swap, vb, va))
                    parts["id_b"].append(np.where(swap, va, vb))
                    parts["frame_a"].append(np.where(swap, fb, fa))
                    parts["frame_b"].append(np.where(swap, fa, fb))
            if parts["id_a"]:
                yield pd.DataFrame(
                    {k: np.concatenate(v) for k, v in parts.items()}
                )

    matches = grouped.mapInPandas(pair_kernel, match_schema).distinct()
    overlaps = matches.groupBy("id_a", "id_b").agg(
        F.countDistinct("frame_a").alias("matched_a"),
        F.countDistinct("frame_b").alias("matched_b"),
    )
    nf_a = n_frames.select(
        F.col(id_col).alias("id_a"), F.col("__nf").alias("n_frames_a")
    )
    nf_b = n_frames.select(
        F.col(id_col).alias("id_b"), F.col("__nf").alias("n_frames_b")
    )
    return (
        overlaps.join(nf_a, "id_a").join(nf_b, "id_b")
        .withColumn(
            "overlap_frac",
            F.greatest(
                F.col("matched_a") / F.col("n_frames_a"),
                F.col("matched_b") / F.col("n_frames_b"),
            ),
        )
        .filter(F.col("overlap_frac") >= min_overlap_frac)
        .select(
            "id_a", "id_b", "matched_a", "matched_b",
            "n_frames_a", "n_frames_b", "overlap_frac",
        )
    )


def synthetic_video_bytes(
    seed: int, start: int = 0, n_frames: int = 8, jpeg: bool = False
) -> bytes:
    """Demo 'video' payload for :func:`synthetic_frame_decoder`: a
    7-byte header (seed, start frame, frame count, jpeg flag).  No real
    video codec exists in this environment, so demos/tests exercise the
    video dedup plumbing with synthesized frames that are REAL encoded
    images."""
    return bytes(
        seed.to_bytes(4, "big") + bytes([start, n_frames, 1 if jpeg else 0])
    )


def synthetic_frame_decoder(data: bytes, every_n_ms: int, cap: int) -> list:
    """Frame 'decoder' for :func:`synthetic_video_bytes` payloads:
    frame j is a real PNG/JPEG encoding of
    ``synthetic_image(seed*100 + start + j)`` — frame CONTENT, not
    position, drives pHash matches, exactly like a real decoder.
    Importable module-level function so worker processes can unpickle
    it (a test-module-local decoder can't be imported by executors)."""
    from .codecs import encode_jpeg, encode_png, synthetic_image

    data = bytes(data)
    seed = int.from_bytes(data[:4], "big")
    start, n, as_jpeg = data[4], min(int(data[5]), cap), bool(data[6])
    enc = encode_jpeg if as_jpeg else encode_png
    return [
        (j, j * every_n_ms, enc(synthetic_image(seed * 100 + start + j)))
        for j in range(n)
    ]


def audio_fingerprint(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    decoder: Optional[Callable[[bytes], dict]] = None,
) -> DataFrame:
    """Perceptual 64-bit audio fingerprint per row: ``(id, afp,
    decode_error)`` — the audio sibling of :func:`image_phash`.

    Kernel: :func:`~hermes_spark.operators.codecs.audio_fingerprint64`
    (log-spaced band energy differences over the time-averaged power
    spectrum — gain/requantization-invariant, a few bits under small
    trims or added noise, ~25-35 bits apart for unrelated content).

    ``decoder`` maps bytes -> ``{"samples", "sample_rate", ...}``; the
    default is the real RIFF/WAVE parser
    (:func:`~hermes_spark.operators.codecs.decode_wav`).  Failures land
    in ``decode_error`` (null ``afp``), per-item isolation.

    Scale: pure per-row Arrow-batched kernel, zero shuffle; FFT cost is
    O(n log n) in clip length, dominated by decode at crawl scale.
    """
    if decoder is None:
        from .codecs import decode_wav

        decoder = decode_wav
    from .codecs import audio_fingerprint64

    out_schema = StructType(
        [
            df.schema[id_col],
            StructField("afp", LongType()),
            StructField("decode_error", StringType()),
        ]
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                rec = {id_col: row[id_col], "afp": None, "decode_error": None}
                try:
                    feats = decoder(row[binary_col])
                    rec["afp"] = audio_fingerprint64(
                        feats["samples"], feats["sample_rate"]
                    )
                except Exception as exc:  # noqa: BLE001 - per-item isolation
                    rec["decode_error"] = str(exc)
                rows.append(rec)
            out = pd.DataFrame(rows, columns=[id_col, "afp", "decode_error"])
            # nullable Int64 (see image_phash): object->float64 coercion
            # under any null would corrupt 64-bit fingerprints
            out["afp"] = pd.array([r["afp"] for r in rows], dtype="Int64")
            yield out

    return df.select(id_col, binary_col).mapInPandas(process, out_schema)


def audio_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    max_hamming: int = 10,
    decoder: Optional[Callable[[bytes], dict]] = None,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """Near-duplicate audio pairs: spectral fingerprint + the banded
    hamming join (:func:`~hermes_spark.operators.dedup.
    fingerprint_near_dup_pairs`) — re-encoded, gain-changed, lightly
    trimmed or renoised copies of a clip pair up; unrelated clips never
    meet.  ``(id_a, id_b, hamming)``; default threshold 10 of 64 (twin
    transformations measure 0-9 on the probe corpus, unrelated 24-36).
    """
    from .dedup import fingerprint_near_dup_pairs

    fps = audio_fingerprint(
        df, id_col, binary_col, decoder=decoder
    ).filter(F.col("afp").isNotNull())
    return fingerprint_near_dup_pairs(
        fps, id_col, "afp", bits=64, max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )
