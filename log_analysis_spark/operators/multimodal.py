"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

Images/audio/video ride through the pipeline as binary columns with a typed
metadata struct.  The Spark-side plumbing — schema, partitioning, Arrow
batch shape, UDF signatures — is real and tested, and so is the image
decode for the two container-friendly formats: ``decode_image`` handles
binary PPM (P6) and uncompressed 24-bit BMP in pure numpy (no codec
library needed).  Other formats (JPEG/PNG/audio/video) raise — decoding
them needs a codec library not present in this container; the byte-stat
extractor is the deterministic fallback used for those kinds.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("md5", T.StringType()),
        T.StructField("sha1", T.StringType()),
        T.StructField("byte_mean", T.DoubleType()),
        T.StructField("byte_std", T.DoubleType()),
        T.StructField("histogram", T.ArrayType(T.LongType())),  # 16 bins
    ]
)

IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("px_mean", T.DoubleType()),
        T.StructField("px_std", T.DoubleType()),
        T.StructField("channel_means", T.ArrayType(T.DoubleType())),  # R,G,B
        T.StructField("decode_error", T.StringType()),
    ]
)


def synth_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic fake media: payload = utf-8 bytes of the doc text
    (stands in for encoded image bytes), typed metadata derived from it."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col(id_col) % 3 + 1).cast("int"),
    )
    payload = F.encode(F.col(text_col), "utf-8")
    return docs.select(
        F.col(id_col).alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.struct(
            F.concat(F.lit("application/x-fake-"), kind).alias("mime"),
            (F.col(id_col) % 640 + 16).cast("int").alias("width"),
            (F.col(id_col) % 480 + 16).cast("int").alias("height"),
            F.length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------- codecs


def encode_ppm(img: np.ndarray) -> bytes:
    """Binary PPM (P6, maxval 255) encoder for an (h, w, 3) uint8 array —
    the fixture-side inverse of decode_image."""
    h, w, c = img.shape
    assert c == 3 and img.dtype == np.uint8
    return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()


def decode_image(payload: bytes) -> np.ndarray:
    """Decode an image payload to an (h, w, 3) uint8 pixel array.

    Pure numpy — supports binary PPM (P6) and uncompressed 24-bit BMP
    (BI_RGB), the two formats writable without a codec library.  Raises
    ``ValueError`` for anything else (JPEG/PNG need a real codec)."""
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    raise ValueError(f"unsupported image format (magic={payload[:2]!r})")


def _decode_ppm(payload: bytes) -> np.ndarray:
    # header: "P6" <ws> width <ws> height <ws> maxval <single-ws> raster;
    # '#' comments may appear inside the whitespace runs
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # exactly one whitespace byte before the raster
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"only maxval=255 PPM supported, got {maxval}")
    raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return raster.reshape(h, w, 3).copy()


def _decode_bmp(payload: bytes) -> np.ndarray:
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = int.from_bytes(payload[10:14], "little")
    hdr_size = int.from_bytes(payload[14:18], "little")
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp})")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=data_off)
    img = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        img = img[::-1]
    return img[..., ::-1].copy()  # BGR → RGB


# ------------------------------------------------------------- extractors


def feature_extract(media: DataFrame) -> DataFrame:
    """Byte-level feature extraction over binary payloads via mapInPandas.

    WHOLE-BATCH numpy (no per-row loops for the stats): all payloads in an
    Arrow batch concatenate into one flat uint8 array; per-doc sums/sumsq
    come from ``np.add.reduceat`` over non-empty offsets, per-doc 16-bin
    histograms from one ``np.bincount`` over ``doc_idx*16 + (byte >> 4)``.
    Only the md5/sha1 digests touch payloads row-wise — hashing is
    inherently per-payload (C-speed via hashlib)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) if p is not None else b"" for p in pdf["payload"]]
            n = len(payloads)
            lens = np.fromiter((len(p) for p in payloads), dtype=np.int64, count=n)
            flat = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            offsets = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            sums = np.zeros(n, dtype=np.int64)
            sumsq = np.zeros(n, dtype=np.int64)
            nonempty = lens > 0
            if flat.size:
                ne_off = offsets[nonempty]
                x = flat.astype(np.int64)
                sums[nonempty] = np.add.reduceat(x, ne_off)
                sumsq[nonempty] = np.add.reduceat(x * x, ne_off)
            safe_len = np.maximum(lens, 1)
            mean = sums / safe_len
            var = np.maximum(sumsq / safe_len - mean * mean, 0.0)
            std = np.sqrt(var)
            doc_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
            hist = np.bincount(
                doc_idx * 16 + (flat >> 4), minlength=n * 16
            ).reshape(n, 16).astype(np.int64)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "kind": pdf["kind"],
                    "n_bytes": lens,
                    "md5": [hashlib.md5(p).hexdigest() for p in payloads],
                    "sha1": [hashlib.sha1(p).hexdigest() for p in payloads],
                    "byte_mean": np.where(nonempty, mean, 0.0),
                    "byte_std": np.where(nonempty, std, 0.0),
                    "histogram": list(hist),
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        extract, FEATURE_SCHEMA
    )


# kept as an alias: round-1 name, used by existing tests/docs — the
# "fake" stood for byte-stats-instead-of-pixel-stats, which remains this
# function's contract for non-decodable payloads
fake_feature_extract = feature_extract


def image_feature_extract(media: DataFrame) -> DataFrame:
    """REAL decode path: PPM/BMP payloads → pixel stats via mapInPandas.

    Decode is per-payload by nature (variable-size headers); the pixel
    statistics are numpy over the decoded array.  Undecodable payloads
    yield nulls + a ``decode_error`` instead of failing the batch."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [], "width": [], "height": [],
                "px_mean": [], "px_std": [], "channel_means": [],
                "decode_error": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                out["media_id"].append(int(mid))
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    img = decode_image(bytes(payload))
                    out["width"].append(img.shape[1])
                    out["height"].append(img.shape[0])
                    out["px_mean"].append(float(img.mean()))
                    out["px_std"].append(float(img.std()))
                    out["channel_means"].append(
                        [float(m) for m in img.reshape(-1, 3).mean(axis=0)]
                    )
                    out["decode_error"].append(None)
                except (ValueError, IndexError) as e:
                    out["width"].append(None)
                    out["height"].append(None)
                    out["px_mean"].append(None)
                    out["px_std"].append(None)
                    out["channel_means"].append(None)
                    out["decode_error"].append(str(e))
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        extract, IMAGE_FEATURE_SCHEMA
    )


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling *plan*: one row per sampled frame index, derived
    from metadata only (real frame extraction from COMPRESSED codecs needs
    a library this container doesn't ship).  Shows the explode-based
    fan-out a real frame sampler uses; for uncompressed Y4M payloads the
    REAL decode path is ``video_frame_sample`` below."""
    n_frames = (F.col("meta.n_bytes") / 100).cast("int")  # fake: 100 B/frame
    return (
        media.filter(F.col("kind") == "video")
        .withColumn(
            "frame_idx",
            F.explode(F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n))),
        )
        .select("media_id", "frame_idx", "meta")
    )


# -------------------------------------------------- image perceptual hash

DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("dhash", T.LongType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def dhash64(img: "np.ndarray") -> int:
    """64-bit difference hash (dHash) of an (h, w, 3) uint8 image —
    ALL-INTEGER, so the same image bytes hash identically on any
    platform/numpy version:

    * integer luma ``(299·R + 587·G + 114·B) div 1000`` per pixel;
    * 8×9 grid of block means with boundaries ``(i·h) div 8`` /
      ``(j·w) div 9`` (area averaging as integer sum div count — no
      float resize);
    * bit (r, c) = 1 iff ``cell[r][c] > cell[r][c+1]`` (row gradient),
      packed row-major MSB-first.

    Robust to re-encoding, scaling and brightness-preserving noise (the
    gradient SIGN survives them); a structural edit flips only the bits
    whose cells it crosses — Hamming distance is the edit budget."""
    h, w = img.shape[0], img.shape[1]
    if h < 8 or w < 9:
        raise ValueError(f"image too small for dhash ({h}x{w}, need >=8x9)")
    luma = (
        299 * img[..., 0].astype(np.int64)
        + 587 * img[..., 1].astype(np.int64)
        + 114 * img[..., 2].astype(np.int64)
    ) // 1000
    rb = [(r * h) // 8 for r in range(9)]
    cb = [(c * w) // 9 for c in range(10)]
    cells = np.empty((8, 9), dtype=np.int64)
    for r in range(8):
        for c in range(9):
            block = luma[rb[r]: rb[r + 1], cb[c]: cb[c + 1]]
            cells[r, c] = int(block.sum()) // block.size
    bits = (cells[:, :-1] > cells[:, 1:]).reshape(-1)
    acc = 0
    for b in bits:
        acc = (acc << 1) | int(b)
    # Fold into two's-complement for Spark's LongType via plain Python
    # ints (np.int64(np.uint64) raises OverflowError on numpy>=2 when
    # the top bit is set — same portable idiom as audio_ahash64).
    return acc - (1 << 64) if acc >= (1 << 63) else acc


def image_dhash(media: DataFrame) -> DataFrame:
    """Per-image 64-bit perceptual hash over the REAL decode path
    (PPM/BMP): (media_id, dhash, decode_error) — undecodable or
    too-small payloads yield a NULL hash + the error string instead of
    failing the batch.  Decode is per-payload by nature; the grid math is
    numpy per image.  The hash is 8 bytes/image — the downstream near-dup
    machinery never touches pixels again (the text-side signature-store
    discipline applied to images)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes, errs = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                ids.append(int(mid))
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    hashes.append(dhash64(decode_image(bytes(payload))))
                    errs.append(None)
                except (ValueError, IndexError) as e:
                    hashes.append(None)
                    errs.append(str(e))
            yield pd.DataFrame(
                {"media_id": ids, "dhash": pd.array(hashes, dtype="Int64"),
                 "decode_error": errs}
            )

    return media.select("media_id", "payload").mapInPandas(
        extract, DHASH_SCHEMA
    )


def hamming_neardup_pairs(
    hashes: DataFrame,
    hash_col: str,
    id_col: str = "media_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate pairs from ANY (id, 64-bit perceptual hash) table —
    the shared banded-Hamming blocker behind image dHash
    (``image_neardup_pairs``) and audio energy-gradient hashes
    (``audio_neardup_pairs``): split the 64-bit hash into ``bands``
    contiguous slices; by pigeonhole any pair within Hamming
    ``bands - 1`` agrees exactly on ≥ 1 slice, so the candidate join is a
    plain (band, slice-value) equi self-join — 100 % recall by
    construction, which is why ``max_hamming <= bands - 1`` is ENFORCED
    (the text-simhash family's Manku rule, at media scale).

    Returns (id_a, id_b, hamming) with id_a < id_b.  Scale shape: the
    band stream is (id, band, key) ints; verify re-attaches the two
    8-byte hashes by id and is one ``bit_count(xor)`` — payload bytes are
    never read again, nothing wide ever shuffles."""
    if bands < 2 or 64 % bands != 0:
        raise ValueError(f"bands must divide 64, got {bands}")
    if not (0 <= max_hamming <= bands - 1):
        raise ValueError(
            f"max_hamming must be in [0, bands-1] for guaranteed recall "
            f"(got max_hamming={max_hamming}, bands={bands})"
        )
    width = 64 // bands
    ht = hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("dhash")
    )
    banded = ht.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(
                            F.col("dhash"), b * width
                        ).bitwiseAND(F.lit((1 << width) - 1)).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bkey")
    cand = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bkey") == F.col("r.bkey"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.join(
        ht.select(F.col("id").alias("id_a"), F.col("dhash").alias("ha")), "id_a"
    ).join(ht.select(F.col("id").alias("id_b"), F.col("dhash").alias("hb")), "id_b")
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def image_neardup_pairs(
    hashes: DataFrame, max_hamming: int = 3, bands: int = 4
) -> DataFrame:
    """Near-duplicate IMAGE pairs from an ``image_dhash`` table —
    re-encodes, slight crops/noise, brightness-preserving edits — via the
    shared banded-Hamming blocker (see ``hamming_neardup_pairs``)."""
    return hamming_neardup_pairs(
        hashes, "dhash", "media_id", max_hamming, bands
    )


# ---------------------------------------------------------------- audio

AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),  # frames (per channel)
        T.StructField("duration_us", T.LongType()),  # exact integer micro-s
        T.StructField("peak", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("zero_crossings", T.LongType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """RIFF/WAVE PCM16 encoder for an (n,) or (n, channels) int16 array —
    the fixture-side inverse of ``decode_wav`` (no codec library needed:
    canonical 44-byte header + interleaved little-endian samples)."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    assert samples.dtype == np.int16
    data = samples.astype("<i2").tobytes()
    byte_rate = sample_rate * ch * 2
    hdr = (
        b"RIFF"
        + (36 + len(data)).to_bytes(4, "little")
        + b"WAVEfmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")          # PCM
        + ch.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + (ch * 2).to_bytes(2, "little")     # block align
        + (16).to_bytes(2, "little")         # bits/sample
        + b"data"
        + len(data).to_bytes(4, "little")
    )
    return hdr + data


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode a RIFF/WAVE PCM16 payload to (sample_rate, (n, ch) int16
    array).  Real chunk walk (fmt /data located by id, unknown chunks
    skipped per spec — word-aligned), pure numpy.  Raises ``ValueError``
    on non-PCM16 or malformed containers (MP3/AAC/float WAV need a codec
    library this container doesn't ship)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError(f"not a RIFF/WAVE payload (magic={payload[:4]!r})")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt /data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    ch = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits != 16:
        raise ValueError(
            f"only PCM16 supported (format={audio_format}, bits={bits})"
        )
    if ch < 1:
        raise ValueError(f"invalid channel count {ch}")
    frames = len(data) // (2 * ch)
    arr = np.frombuffer(data, dtype="<i2", count=frames * ch).reshape(frames, ch)
    return rate, arr.copy()


AUDIO_HASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("ahash", T.LongType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def audio_ahash64(samples: "np.ndarray") -> int:
    """64-bit energy-gradient hash of a PCM16 sample array — the AUDIO
    member of the perceptual-hash family (``dhash64`` is the image one),
    ALL-INTEGER so the same samples hash identically anywhere:

    * channels fold to mono by integer mean (sum div n_ch);
    * 65 frames with integer boundaries ``(i·n) div 65``; per-frame
      energy = Σ\\|sample\\| (exact int64);
    * bit i = 1 iff ``energy[i]·len[i+1] > energy[i+1]·len[i]``
      (cross-multiplied MEAN comparison — frames differ by ±1 sample, a
      raw-sum compare would bias every boundary), packed MSB-first.

    Invariant under uniform volume scaling (gradient SIGNS survive
    gain), robust to re-encoding and mild noise; a structural edit flips
    only the bits whose frames it crosses — Hamming distance is the
    edit budget."""
    if samples.ndim == 2:
        mono = samples.astype(np.int64).sum(axis=1) // samples.shape[1]
    else:
        mono = samples.astype(np.int64)
    n = mono.shape[0]
    if n < 65:
        raise ValueError(f"audio too short for ahash ({n} samples, need >= 65)")
    b = [(i * n) // 65 for i in range(66)]
    e = np.empty(65, dtype=np.int64)
    ln = np.empty(65, dtype=np.int64)
    a = np.abs(mono)
    for i in range(65):
        e[i] = int(a[b[i]: b[i + 1]].sum())
        ln[i] = b[i + 1] - b[i]
    acc = 0
    for i in range(64):
        bit = 1 if int(e[i]) * int(ln[i + 1]) > int(e[i + 1]) * int(ln[i]) else 0
        acc = (acc << 1) | bit
    return acc - (1 << 64) if acc >= (1 << 63) else acc


def audio_hash(media: DataFrame) -> DataFrame:
    """Per-clip 64-bit perceptual hash over the REAL WAV decode:
    (media_id, ahash, decode_error) — undecodable or too-short payloads
    yield a NULL hash + the error string.  8 bytes/clip: downstream
    near-dup (``audio_neardup_pairs``) never touches samples again —
    the image-dhash discipline, for audio."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes, errs = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                ids.append(int(mid))
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    _sr, samples = decode_wav(bytes(payload))
                    hashes.append(audio_ahash64(samples))
                    errs.append(None)
                except (ValueError, IndexError) as e:
                    hashes.append(None)
                    errs.append(str(e))
            yield pd.DataFrame(
                {"media_id": ids, "ahash": pd.array(hashes, dtype="Int64"),
                 "decode_error": errs}
            )

    return media.select("media_id", "payload").mapInPandas(
        extract, AUDIO_HASH_SCHEMA
    )


def audio_neardup_pairs(
    hashes: DataFrame, max_hamming: int = 3, bands: int = 4
) -> DataFrame:
    """Near-duplicate AUDIO pairs from an ``audio_hash`` table —
    re-encodes, gain changes, mild noise — via the shared banded-Hamming
    blocker (see ``hamming_neardup_pairs``)."""
    return hamming_neardup_pairs(
        hashes, "ahash", "media_id", max_hamming, bands
    )


def audio_feature_extract(media: DataFrame) -> DataFrame:
    """REAL audio decode path: WAV/PCM16 payloads → waveform stats via
    mapInPandas (the audio twin of ``image_feature_extract``).  Decode is
    per-payload by nature (chunk walk); the waveform statistics are numpy
    over the decoded array.  ``duration_us`` is the EXACT integer
    ``frames·1e6 div rate`` (no float time axis); ``zero_crossings`` counts
    sign changes of the channel-0 waveform (zeros carry the previous
    sign); undecodable payloads yield nulls + ``decode_error``."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k.name: [] for k in AUDIO_FEATURE_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                out["media_id"].append(int(mid))
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    rate, arr = decode_wav(bytes(payload))
                    frames = arr.shape[0]
                    x = arr.astype(np.float64)
                    s = np.sign(arr[:, 0]).astype(np.int8)
                    nz = s != 0
                    sf = s[nz]
                    out["sample_rate"].append(rate)
                    out["n_channels"].append(arr.shape[1])
                    out["n_samples"].append(frames)
                    out["duration_us"].append(frames * 10**6 // rate)
                    out["peak"].append(
                        int(np.abs(x).max()) if frames else 0
                    )
                    out["rms"].append(
                        round(float(np.sqrt((x * x).mean())), 6)
                        if frames
                        else 0.0
                    )
                    out["zero_crossings"].append(
                        int((sf[1:] != sf[:-1]).sum()) if len(sf) else 0
                    )
                    out["decode_error"].append(None)
                except (ValueError, IndexError) as e:
                    for k in (
                        "sample_rate", "n_channels", "n_samples",
                        "duration_us", "peak", "rms", "zero_crossings",
                    ):
                        out[k].append(None)
                    out["decode_error"].append(str(e))
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        extract, AUDIO_FEATURE_SCHEMA
    )


# ---------------------------------------------------------------- video

VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("ts_us", T.LongType()),  # exact integer micro-s
        T.StructField("mean_luma_milli", T.LongType()),
        T.StructField("min_luma", T.IntegerType()),
        T.StructField("max_luma", T.IntegerType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def encode_y4m(
    frames: np.ndarray, fps: tuple[int, int] = (25, 1), colorspace: str = "mono"
) -> bytes:
    """YUV4MPEG2 encoder for an (n, h, w) uint8 luma array — the
    fixture-side inverse of ``decode_y4m`` (Y4M is the standard
    UNCOMPRESSED video interchange container: a text header + raw planar
    frames, no codec library needed — the video twin of PPM/WAV).
    ``colorspace``: "mono" writes luma only; "420" appends flat 128-valued
    chroma planes (w/2 × h/2 each), exercising the C420 frame layout."""
    assert frames.ndim == 3 and frames.dtype == np.uint8
    n, h, w = frames.shape
    ctag = "Cmono" if colorspace == "mono" else "C420"
    hdr = f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 {ctag}\n".encode()
    parts = [hdr]
    chroma = (
        b""
        if colorspace == "mono"
        else bytes([128]) * ((w // 2) * (h // 2) * 2)
    )
    for i in range(n):
        parts.append(b"FRAME\n")
        parts.append(frames[i].tobytes())
        parts.append(chroma)
    return b"".join(parts)


def decode_y4m(payload: bytes) -> tuple[int, int, tuple[int, int], np.ndarray]:
    """Decode a YUV4MPEG2 payload to (width, height, (fps_num, fps_den),
    (n, h, w) uint8 luma array).  Real container walk: stream-header
    parameter tokens (W/H/F required, C defaulting to 420 per spec),
    per-frame FRAME headers (optional frame parameters tolerated), plane
    sizes validated; Cmono and C420-family supported — the chroma planes
    of 420 are skipped, the luma plane is returned.  Raises ``ValueError``
    on anything else (compressed codecs need a library this container
    doesn't ship)."""
    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError(f"not a YUV4MPEG2 payload (magic={payload[:9]!r})")
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("unterminated stream header")
    w = h = None
    num, den = 25, 1
    ctag = "420"
    for tok in payload[9:nl].split():
        t = tok.decode("ascii", "replace")
        if t[0] == "W":
            w = int(t[1:])
        elif t[0] == "H":
            h = int(t[1:])
        elif t[0] == "F":
            num, den = (int(x) for x in t[1:].split(":"))
        elif t[0] == "C":
            ctag = t[1:]
    if not w or not h or num < 1 or den < 1:
        raise ValueError(f"bad stream header (W={w} H={h} F={num}:{den})")
    if ctag.startswith("mono"):
        chroma = 0
    elif ctag.startswith("420"):
        chroma = (w // 2) * (h // 2) * 2
    else:
        raise ValueError(f"unsupported colorspace C{ctag}")
    fsize = w * h + chroma
    frames = []
    pos = nl + 1
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError(f"bad frame header at byte {pos}")
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or len(payload) < fnl + 1 + fsize:
            raise ValueError(f"truncated frame at byte {pos}")
        luma = np.frombuffer(
            payload, dtype=np.uint8, count=w * h, offset=fnl + 1
        ).reshape(h, w)
        frames.append(luma)
        pos = fnl + 1 + fsize
    return w, h, (num, den), (
        np.stack(frames) if frames else np.zeros((0, h, w), np.uint8)
    )


def video_frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """REAL video frame sampling: Y4M payloads → every ``every_n``-th
    frame's luma statistics via mapInPandas — the realized version of
    ``frame_sample_plan`` (which remains the metadata-only planner for
    codec formats this container can't decode).  Per sampled frame:
    exact integer ``ts_us = idx·1e6·fps_den div fps_num`` and
    ``mean_luma_milli = 1000·Σluma div (h·w)`` — no float anywhere.
    Container walk is per-payload by nature; the per-frame statistics are
    whole-frame numpy reductions.  Undecodable payloads yield one row of
    nulls + ``decode_error``, so corrupt assets surface instead of
    vanishing."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k.name: [] for k in VIDEO_FRAME_SCHEMA.fields}

            def emit(mid, idx, w, h, ts, mean, mn, mx, err):
                out["media_id"].append(mid)
                out["frame_idx"].append(idx)
                out["width"].append(w)
                out["height"].append(h)
                out["ts_us"].append(ts)
                out["mean_luma_milli"].append(mean)
                out["min_luma"].append(mn)
                out["max_luma"].append(mx)
                out["decode_error"].append(err)

            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                mid = int(mid)
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    w, h, (num, den), luma = decode_y4m(bytes(payload))
                    for idx in range(0, luma.shape[0], every_n):
                        fr = luma[idx]
                        emit(
                            mid,
                            idx,
                            w,
                            h,
                            idx * 10**6 * den // num,
                            int(fr.sum(dtype=np.int64)) * 1000 // (h * w),
                            int(fr.min()),
                            int(fr.max()),
                            None,
                        )
                except (ValueError, IndexError) as e:
                    emit(mid, None, None, None, None, None, None, None, str(e))
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        extract, VIDEO_FRAME_SCHEMA
    )
