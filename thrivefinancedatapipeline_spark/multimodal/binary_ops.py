"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design for image/audio/video at 100 TB:
- payloads ride as `binary` columns next to typed metadata structs;
- decode / feature-extract / resize run as Arrow-batched Pandas UDFs
  over mapInPandas (one Python worker round-trip per batch, never per
  row);
- baseline PNG decodes FOR REAL via the stdlib codec in
  `multimodal.png` (zlib inflate + the five scanline filters); other
  codecs (JPEG/ffmpeg/librosa) are NOT in this container, so for
  non-PNG bytes `decode_image_batch` keeps the explicit gate:
  NotImplementedError unless the deterministic fake decoder is
  requested. The Spark-side plumbing — schema, batch iteration,
  partition sizing — is identical on both paths.

The `documents.text` column stands in for a payload source: we encode
it to bytes so the binary-column path is exercised end-to-end on real
data.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datamodel import load_table
from ..functions.layout import ensure_min_parallelism
from . import avi, bmp, gif, ico, jpeg, png, pnm, qoi, wav

DECODED_SCHEMA = (
    "doc_id long, n_bytes int, width int, height int, checksum long"
)


def _codec_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`documents` as (doc_id, text), spread for the Python codec
    kernels that consume it: they must not run on one core just because
    the table is one row group (functions/layout.py)."""
    return ensure_min_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach a binary payload column + typed metadata struct."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).alias("n_bytes"),
            F.lit("text/plain").alias("mime"),
        ).alias("meta"),
    )


def decode_image_batch(payloads: pd.Series, *, fake: bool = False) -> pd.DataFrame:
    """Decode a batch of image payloads → (width, height, checksum).

    Baseline PNG payloads (8-bit gray/RGB/GA/RGBA, non-interlaced) are
    decoded FOR REAL by the stdlib codec in `multimodal.png` — width
    and height come from IHDR, the checksum is crc32 over the
    reconstructed pixel bytes. Every other format still needs a native
    codec this container doesn't have, so non-PNG bytes keep the
    explicit gate: NotImplementedError unless the deterministic fake
    decoder is requested (the fake derives dims/checksum from byte
    lengths/sums so the distributed plumbing is testable on any bytes).
    """
    n_bytes, widths, heights, checksums = [], [], [], []
    for b in payloads:
        n_bytes.append(len(b))
        if png.is_png(bytes(b)):
            img = png.decode_png(bytes(b))
            widths.append(img["width"])
            heights.append(img["height"])
            checksums.append(zlib.crc32(img["pixels"]))
        elif gif.is_gif(bytes(b)):
            img = gif.decode_gif(bytes(b))
            widths.append(img["width"])
            heights.append(img["height"])
            checksums.append(zlib.crc32(img["pixels"]))
        elif jpeg.is_jpeg(bytes(b)):
            img = jpeg.decode_jpeg_color(bytes(b))  # gray, 4:4:4, 4:2:0
            widths.append(img["width"])
            heights.append(img["height"])
            checksums.append(zlib.crc32(img["pixels"]))
        elif bmp.is_bmp(bytes(b)):
            img = bmp.decode_bmp(bytes(b))
            widths.append(img["width"])
            heights.append(img["height"])
            checksums.append(zlib.crc32(img["pixels"]))
        elif pnm.is_pnm(bytes(b)):
            img = pnm.decode_pnm(bytes(b))
            widths.append(img["width"])
            heights.append(img["height"])
            checksums.append(zlib.crc32(img["pixels"]))
        elif qoi.is_qoi(bytes(b)):
            img = qoi.decode_qoi(bytes(b))
            widths.append(img["width"])
            heights.append(img["height"])
            checksums.append(zlib.crc32(img["pixels"]))
        elif ico.is_ico(bytes(b)):
            # multi-image container: report the LARGEST frame (the
            # icon-selection convention), checksum over its RGBA
            frames = ico.decode_ico(bytes(b))
            big = max(frames, key=lambda f: (f["width"] * f["height"],))
            widths.append(big["width"])
            heights.append(big["height"])
            checksums.append(zlib.crc32(big["pixels"]))
        elif fake:
            s = sum(b) % 1_000_003
            widths.append(len(b) % 640 + 1)
            heights.append(s % 480 + 1)
            checksums.append(s)
        else:
            raise NotImplementedError(
                "only PNG, GIF, baseline/progressive JPEG, BMP "
                "(BI_RGB), PGM/PPM and QOI decode natively here; other "
                "image codecs are unavailable in this environment — "
                "pass fake=True for the deterministic stub"
            )
    return pd.DataFrame(
        {
            "n_bytes": pd.Series(n_bytes, dtype="int32"),
            "width": pd.Series(widths, dtype="int32"),
            "height": pd.Series(heights, dtype="int32"),
            "checksum": pd.Series(checksums, dtype="int64"),
        }
    )


def decode_stub(docs_with_payload: DataFrame, fake: bool = True) -> DataFrame:
    """mapInPandas decode pass: Arrow batches in, typed rows out."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = decode_image_batch(pdf["payload"], fake=fake)
            decoded.insert(0, "doc_id", pdf["doc_id"].values)
            yield decoded

    return docs_with_payload.mapInPandas(run, schema=DECODED_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_bytes int, frame_checksum long"
FRAME_SIZE = 64          # bytes per fake "frame"
AUDIO_WINDOW = 32        # bytes per fake "audio window"


def frame_sample(
    docs_with_payload: DataFrame, every_n: int = 4
) -> DataFrame:
    """Video-style frame sampling: one input payload fans out to one
    row per kept frame (1→N inside the Pandas batch — the shape real
    frame extraction has). Frames are fixed-size byte slices; a real
    deployment swaps the slicer for an ffmpeg keyframe reader with the
    SAME signature and schema.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_bytes": [], "frame_checksum": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = max(1, len(payload) // FRAME_SIZE)
                for idx in range(0, n_frames, every_n):
                    chunk = payload[idx * FRAME_SIZE : (idx + 1) * FRAME_SIZE]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["frame_bytes"].append(len(chunk))
                    out["frame_checksum"].append(sum(chunk) % 1_000_003)
            yield pd.DataFrame(out)

    return docs_with_payload.mapInPandas(run, schema=FRAME_SCHEMA)


def resize_stub(decoded: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """'Resize' pass over decoded image rows — pure column math on the
    fake dimensions (`resize_nn` below is the real kernel; this stub
    pins the pipeline position and schema contract for callers that
    only have decoded metadata, not pixels)."""
    return decoded.select(
        "doc_id",
        F.lit(target_w).alias("width"),
        F.lit(target_h).alias("height"),
        (F.col("checksum") * target_w * target_h % 1_000_003).alias("checksum"),
    )


def resize_pixels_nn(
    pixels: bytes, w: int, h: int, tw: int, th: int, channels: int = 1
) -> bytes:
    """REAL nearest-neighbor resample over a raw pixel buffer — pure
    integer index mapping (src = floor(dst * src_dim / dst_dim)), no
    image libraries. Channel-interleaved layout, any channel count."""
    out = bytearray(tw * th * channels)
    for y in range(th):
        sy = y * h // th
        for x in range(tw):
            sx = x * w // tw
            src = (sy * w + sx) * channels
            dst = (y * tw + x) * channels
            out[dst : dst + channels] = pixels[src : src + channels]
    return bytes(out)


def resize_nn(
    docs_with_payload: DataFrame, target_w: int, target_h: int
) -> DataFrame:
    """REAL resize pass: decode each PNG/GIF payload with the stdlib
    codecs, nearest-neighbor-resample the actual pixel buffer to
    (target_w, target_h), and emit the resized dims + crc32 of the
    RESAMPLED bytes — the downsample step a multimodal training
    pipeline runs between decode and feature extraction, as a real
    mapInPandas kernel (formats without a codec keep the gate)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [], "checksum": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                if png.is_png(b):
                    img = png.decode_png(b)
                    ch = img["channels"]
                elif gif.is_gif(b):
                    img = gif.decode_gif(b)
                    ch = 3  # palette-mapped RGB
                elif jpeg.is_jpeg(b):
                    img = jpeg.decode_jpeg_color(b)  # gray, 4:4:4, 4:2:0
                    ch = img["channels"]
                elif bmp.is_bmp(b):
                    img = bmp.decode_bmp(b)
                    ch = 3
                elif pnm.is_pnm(b):
                    img = pnm.decode_pnm(b)
                    # 16-bit samples (r10): nearest-neighbor never
                    # does arithmetic on values, so a wide sample is
                    # just a 2-byte pixel unit — double the stride
                    ch = img["channels"] * (
                        2 if img.get("maxval", 255) > 255 else 1
                    )
                elif qoi.is_qoi(b):
                    img = qoi.decode_qoi(b)
                    ch = img["channels"]
                else:
                    raise NotImplementedError(
                        "resize_nn needs a decodable image payload"
                    )
                resized = resize_pixels_nn(
                    img["pixels"], img["width"], img["height"],
                    target_w, target_h, ch,
                )
                out["doc_id"].append(doc_id)
                out["width"].append(target_w)
                out["height"].append(target_h)
                out["checksum"].append(zlib.crc32(resized))
            yield pd.DataFrame(out)

    return docs_with_payload.mapInPandas(
        run, schema="doc_id long, width int, height int, checksum long"
    )


def audio_energy(docs_with_payload: DataFrame, fake: bool = True) -> DataFrame:
    """Audio feature extraction: windowed energy profile as an
    array<double> column per payload — the vector-per-asset output
    shape an embedding/feature extractor produces.

    PCM WAV payloads decode FOR REAL via the stdlib codec in
    `multimodal.wav`: energy is the sum of squared integer samples per
    {AUDIO_WINDOW}-sample window (bit-reproducible — exact int math
    before the float cast). Non-WAV bytes keep the decode-gate policy
    of `decode_image_batch`: the windowed byte-sum fake when
    fake=True, NotImplementedError otherwise (compressed audio needs
    codecs this container doesn't have)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            energies = []
            for p in pdf["payload"]:
                b = bytes(p)
                samples = None
                if wav.is_wav(b):
                    try:
                        samples = wav.decode_wav(b)["samples"]
                    except (ValueError, NotImplementedError):
                        # sniffed as RIFF/WAVE but not decodable PCM
                        # (corrupt, 24-bit, compressed): honor the
                        # fake/gate contract instead of failing the
                        # task from inside the sniff branch
                        if not fake:
                            raise
                if samples is not None:
                    s = samples
                    energies.append(
                        [
                            float(sum(x * x for x in s[i : i + AUDIO_WINDOW]))
                            for i in range(0, max(len(s), 1), AUDIO_WINDOW)
                        ]
                    )
                elif fake:
                    energies.append(
                        [
                            float(sum(b[i : i + AUDIO_WINDOW]))
                            for i in range(0, max(len(b), 1), AUDIO_WINDOW)
                        ]
                    )
                else:
                    raise NotImplementedError(
                        "only PCM WAV decodes natively here; compressed "
                        "audio codecs are unavailable in this "
                        "environment — pass fake=True for the "
                        "deterministic stub"
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "n_windows": [len(e) for e in energies],
                    "energy": energies,
                }
            )

    return docs_with_payload.mapInPandas(
        run, schema="doc_id long, n_windows int, energy array<double>"
    )


def wav_payloads(docs: DataFrame) -> DataFrame:
    """Deterministic REAL audio payloads: each document's text bytes
    as 16-bit PCM samples in a valid mono WAV — the third real
    container format on the write side (PNG/GIF pattern)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                wav.encode_wav(list(text.encode("utf-8")))
                for text in pdf["text"]
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="doc_id long, payload binary"
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-JVM metadata extraction over the binary payload column
    (no Python worker): byte length + md5 prefix as a checksum id."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.md5(payload).alias("payload_md5"),
    )


def q_multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pandas-UDF decode path with the deterministic fake codec.
    [rows-only in the driver compare — Python-side kernel, no SQL twin]
    """
    docs = load_table(spark, sf_dir, "documents")
    return decode_stub(with_binary_payload(docs), fake=True)


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling path over REAL multi-frame containers: each doc
    becomes a 6-frame animated GIF, and every 2nd frame is decoded
    back by the stdlib multi-frame codec (`frame_sample_gif`) — the
    keyframe-extraction pipeline with an actual codec end-to-end
    (the byte-slicing `frame_sample` stand-in remains for codec-less
    formats). (rows-only: Pandas kernel, no SQL twin)"""
    return frame_sample_gif(gif_animation_payloads(_codec_docs(spark, sf_dir)))


PNG_WIDTH = 16  # synthetic demo images: fixed stride, height from text


def png_payloads(docs: DataFrame) -> DataFrame:
    """Deterministic REAL image payloads: each document's text bytes
    packed into a valid baseline RGB PNG (filter type cycles with
    doc_id so the corpus exercises every scanline filter). This is the
    write side of the real-codec path — same mapInPandas batch shape an
    image ingest job has."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        stride = PNG_WIDTH * 3
        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")
                height = max(1, min(64, -(-len(raw) // stride)))
                buf = (raw + b"\x00" * (stride * height))[: stride * height]
                payloads.append(
                    png.encode_png(
                        buf,
                        PNG_WIDTH,
                        height,
                        color_type=2,
                        filter_type=int(doc_id) % 5,
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="doc_id long, payload binary"
    )


def q_multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-bytes decode path: synthesize a valid PNG per document,
    then decode it with the stdlib baseline-PNG codec (fake=False — the
    NotImplementedError gate stays armed for non-PNG bytes). [rows-only
    in the driver compare — Python-side kernel, no SQL twin]"""
    return decode_stub(png_payloads(_codec_docs(spark, sf_dir)), fake=False)


def gif_payloads(docs: DataFrame) -> DataFrame:
    """Deterministic REAL GIF payloads: text bytes as palette indices
    into the fixed 256-color table, LZW-encoded by the stdlib codec —
    the second real container format on the write side."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                raw = text.encode("utf-8")
                height = max(1, min(64, -(-len(raw) // PNG_WIDTH)))
                buf = (raw + b"\x00" * (PNG_WIDTH * height))[
                    : PNG_WIDTH * height
                ]
                payloads.append(gif.encode_gif(buf, PNG_WIDTH, height))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="doc_id long, payload binary"
    )


def gif_animation_payloads(docs: DataFrame, n_frames: int = 6) -> DataFrame:
    """Deterministic REAL animated-GIF payloads: frame k is the
    document's byte buffer rotated by k positions — n_frames image
    blocks in one valid GIF89a container."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                raw = text.encode("utf-8")
                height = max(1, min(16, -(-len(raw) // PNG_WIDTH)))
                n = PNG_WIDTH * height
                buf = (raw + b"\x00" * n)[:n]
                frames = [buf[k:] + buf[:k] for k in range(n_frames)]
                payloads.append(
                    gif.encode_gif_animation(frames, PNG_WIDTH, height)
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="doc_id long, payload binary"
    )


def frame_sample_gif(
    docs_with_payload: DataFrame, every_n: int = 2
) -> DataFrame:
    """REAL frame sampling over a real container: decode every image
    block of the (animated) GIF payload with the stdlib multi-frame
    decoder, keep every `every_n`-th frame, and emit one row per kept
    frame with the crc of its DECODED RGB pixels — the keyframe-
    extraction shape with an actual codec behind it (`frame_sample`
    keeps the byte-slicing stand-in for formats without one)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "frame_idx": [],
                "width": [], "height": [], "checksum": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames = gif.decode_gif_frames(bytes(payload))
                for idx in range(0, len(frames), every_n):
                    f = frames[idx]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["width"].append(f["width"])
                    out["height"].append(f["height"])
                    out["checksum"].append(zlib.crc32(f["pixels"]))
            yield pd.DataFrame(out)

    return docs_with_payload.mapInPandas(
        run,
        schema="doc_id long, frame_idx int, width int, height int,"
        " checksum long",
    )


def q_multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-bytes GIF decode path: valid GIF89a per document, decoded
    by the stdlib LZW codec (fake=False). [rows-only in the driver
    compare — Python-side kernel, no SQL twin]"""
    return decode_stub(gif_payloads(_codec_docs(spark, sf_dir)), fake=False)


def avi_payloads(
    docs: DataFrame, n_frames: int = 4, quality: int = 90,
    color: bool = False,
) -> DataFrame:
    """Deterministic REAL video payloads: frame k is the document's
    byte buffer rotated by k positions, JPEG-encoded (8-bit gray,
    stdlib baseline codec) and wrapped in a valid RIFF/AVI MJPEG
    container — the fifth real container format on the write side,
    and the first one that is VIDEO all the way down (container +
    per-frame image codec).  `color=True` encodes each frame with
    the 4:4:4 YCbCr codec — real COLOR video."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                raw = text.encode("utf-8")
                height = max(1, min(16, -(-len(raw) // PNG_WIDTH)))
                n = PNG_WIDTH * height
                buf = (raw + b"\x00" * n)[:n]
                if color:
                    frames = []
                    for k in range(n_frames):
                        rot = buf[k:] + buf[:k]
                        rgb = bytes(
                            v
                            for i in range(n)
                            for v in (rot[i], rot[(i + 7) % n],
                                      255 - rot[i])
                        )
                        frames.append(
                            jpeg.encode_jpeg_color(
                                rgb, PNG_WIDTH, height, quality=quality
                            )
                        )
                else:
                    frames = [
                        jpeg.encode_jpeg(
                            buf[k:] + buf[:k], PNG_WIDTH, height,
                            quality=quality,
                        )
                        for k in range(n_frames)
                    ]
                payloads.append(
                    avi.encode_avi_mjpeg(frames, PNG_WIDTH, height)
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="doc_id long, payload binary"
    )


def frame_sample_avi(
    docs_with_payload: DataFrame, every_n: int = 2
) -> DataFrame:
    """REAL video frame sampling: walk the RIFF container, decode
    every kept '00dc' JPEG frame with the stdlib baseline decoder, and
    emit one row per kept frame with the crc of its DECODED gray
    pixels. Same schema as `frame_sample_gif`; `every_n` skips frames
    WITHOUT decoding them (the container walk is cheap, the DCT is
    not) — the actual shape of keyframe extraction at scale."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "frame_idx": [],
                "width": [], "height": [], "checksum": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                chunks = avi.avi_frame_chunks(bytes(payload))
                for idx in range(0, len(chunks), every_n):
                    f = jpeg.decode_jpeg_color(chunks[idx])
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["width"].append(f["width"])
                    out["height"].append(f["height"])
                    out["checksum"].append(zlib.crc32(f["pixels"]))
            yield pd.DataFrame(out)

    return docs_with_payload.mapInPandas(
        run,
        schema="doc_id long, frame_idx int, width int, height int,"
        " checksum long",
    )


def jpeg_payloads(docs: DataFrame, quality: int = 90) -> DataFrame:
    """Deterministic REAL JPEG payloads: text bytes as an 8-bit gray
    image, encoded by the stdlib baseline codec — fourth container
    format on the write side (lossy, so downstream checks bound the
    reconstruction error instead of hashing pixels)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                raw = text.encode("utf-8")
                height = max(1, min(32, -(-len(raw) // PNG_WIDTH)))
                buf = (raw + b"\x00" * (PNG_WIDTH * height))[
                    : PNG_WIDTH * height
                ]
                payloads.append(
                    jpeg.encode_jpeg(buf, PNG_WIDTH, height, quality=quality)
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="doc_id long, payload binary"
    )


ATTEST_SCHEMA = "doc_id long, png_sum long, gif_sum long, wav_energy long"


def q_multimodal_codec_attest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-ATTESTED codec round-trips — the query that puts all
    three real codecs (PNG, GIF, WAV) under the cross-engine value
    hash, closing the 'rows-only by design' gap for formats we can
    actually decode. Per document, the kernel derives 32 pixel/sample
    values from md5(text) (the ascii codes of the hex digest — the
    one hash both engines share), encodes them with each codec,
    DECODES the bytes back with the real decoder, and emits
    position-weighted checksums of the DECODED output. The DuckDB
    oracle computes the same checksums directly from md5(text) in
    SQL — any corruption in any encoder/decoder (filters, LZW
    dictionary, PCM packing) flips the hash red.

    png_sum weights decoded gray pixels by position; gif_sum weights
    the palette-mapped RGB bytes (so the color-table mapping is
    attested too); wav_energy is the exact integer sum of squared
    decoded samples. mapInPandas batch kernel — the one place
    Python-per-row is correct."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out = {"doc_id": [], "png_sum": [], "gif_sum": [], "wav_energy": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                hx = hashlib.md5(text.encode("utf-8")).hexdigest()
                vals = bytes(ord(c) for c in hx)  # 32 ascii codes
                dec_png = png.decode_png(
                    png.encode_png(
                        vals, 8, 4, color_type=0,
                        filter_type=int(doc_id) % 5,
                    )
                )["pixels"]
                dec_gif = gif.decode_gif(gif.encode_gif(vals, 8, 4))["pixels"]
                dec_wav = wav.decode_wav(wav.encode_wav(list(vals)))["samples"]
                out["doc_id"].append(doc_id)
                out["png_sum"].append(
                    sum((i + 1) * b for i, b in enumerate(dec_png))
                )
                out["gif_sum"].append(
                    sum((i + 1) * b for i, b in enumerate(dec_gif))
                )
                out["wav_energy"].append(sum(x * x for x in dec_wav))
            yield pd.DataFrame(out)

    return _codec_docs(spark, sf_dir).mapInPandas(run, schema=ATTEST_SCHEMA)


QUERIES = {
    "multimodal_codec_attest": q_multimodal_codec_attest,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_decode_stub": q_multimodal_decode_stub,
    "multimodal_decode_png": q_multimodal_decode_png,
    "multimodal_decode_gif": q_multimodal_decode_gif,
    "multimodal_frame_sample": q_multimodal_frame_sample,
}

ORACLES = {
    # the checksums the real codecs must reproduce, computed directly
    # from md5(text) in SQL: v_i = ascii(hex digit i); PNG decodes to
    # the gray values v_i; GIF maps index v through the fixed palette
    # (v, 7v mod 256, 13v mod 256); WAV returns the exact samples.
    "multimodal_codec_attest": """
WITH a AS (
  SELECT doc_id, i, ascii(substring(md5(text), CAST(i AS INT), 1)) AS v
  FROM documents, (SELECT unnest(range(1, 33)) AS i) t)
SELECT doc_id,
       CAST(SUM(i * v) AS BIGINT) AS png_sum,
       CAST(SUM((3 * (i - 1) + 1) * v
              + (3 * (i - 1) + 2) * ((7 * v) % 256)
              + (3 * (i - 1) + 3) * ((13 * v) % 256)) AS BIGINT)
         AS gif_sum,
       CAST(SUM(v * v) AS BIGINT) AS wav_energy
FROM a GROUP BY doc_id""",
    "multimodal_meta": """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       md5(text) AS payload_md5
FROM documents""",
    # multimodal_decode_stub intentionally has no oracle: the decode
    # kernel is a Pandas UDF (rows-only check by design).
}


def jpeg_color_payloads(docs: DataFrame, quality: int = 90) -> DataFrame:
    """Deterministic REAL COLOR JPEG payloads: the document's bytes
    painted into the R channel, a rotation into G and an inversion
    into B — exercises the full 4:4:4 YCbCr path (3 quant/Huffman
    table pairs, interleaved MCUs, color-space round trip)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                raw = text.encode("utf-8")
                height = max(1, min(16, -(-len(raw) // PNG_WIDTH)))
                n = PNG_WIDTH * height
                buf = (raw + b"\x00" * n)[:n]
                rgb = bytes(
                    v
                    for i in range(n)
                    for v in (buf[i], buf[(i + 7) % n], 255 - buf[i])
                )
                payloads.append(
                    jpeg.encode_jpeg_color(
                        rgb, PNG_WIDTH, height, quality=quality
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="doc_id long, payload binary"
    )


# ---------------------------------------------------------------------------
# Round-10 operators.
# ---------------------------------------------------------------------------

from . import tga  # noqa: E402

ATTEST2_SCHEMA = (
    "doc_id long, qoi_sum long, bmp_sum long, pnm_sum long,"
    " tga_sum long, rle8_sum long, pbm_sum long, bmp16_sum long,"
    " ico_sum long"
)


def q_multimodal_codec_attest2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-ATTESTED round-trips for the four later lossless codecs
    (QOI, BMP, PPM, TGA) — the multimodal_codec_attest discipline
    extended to the r9/r10 formats. Per document the kernel derives
    48 byte values from md5(text) (the 32 hex-digit ascii codes plus
    the first 16 again — a 4x4 RGB image), gives each codec a
    DIFFERENT deterministic arrangement so the four output columns
    cannot shadow each other (QOI the identity, BMP the reversal,
    PPM a 0x5A xor, TGA a 7-byte rotation through the RLE path),
    encodes, DECODES with the real decoder, and emits the
    position-weighted checksum of the DECODED bytes. The DuckDB
    oracle computes all eight sums directly from md5(text) — any
    corruption in any encoder/decoder (QOI op choice, BMP stride /
    BGR order / bottom-up flip, PPM header, TGA RLE packets, RLE8
    run/absolute packets, PBM bit packing, 555 quantize/replicate,
    ICONDIR offsets / XOR raster / AND mask) flips the value hash
    red."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def wsum(bs):
            return sum((i + 1) * b for i, b in enumerate(bs))

        for pdf in batches:
            out = {
                "doc_id": [], "qoi_sum": [], "bmp_sum": [],
                "pnm_sum": [], "tga_sum": [], "rle8_sum": [],
                "pbm_sum": [], "bmp16_sum": [], "ico_sum": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                hx = hashlib.md5(text.encode("utf-8")).hexdigest()
                vals = bytes(ord(c) for c in hx)
                vals = vals + vals[:16]  # 48 bytes = 4x4 RGB
                dq = qoi.decode_qoi(qoi.encode_qoi(vals, 4, 4))["pixels"]
                db = bmp.decode_bmp(
                    bmp.encode_bmp(bytes(reversed(vals)), 4, 4)
                )["pixels"]
                dp = pnm.decode_pnm(
                    pnm.encode_pnm(
                        bytes(v ^ 0x5A for v in vals), 4, 4, channels=3
                    )
                )["pixels"]
                dt = tga.decode_tga(
                    tga.encode_tga(vals[7:] + vals[:7], 4, 4, rle=True)
                )["pixels"]
                # gray codecs: take the R channel of the RGB decode
                d8 = bmp.decode_bmp(
                    bmp.encode_bmp_rle8(
                        bytes(v ^ 0xA5 for v in vals), 8, 6
                    )
                )["pixels"][::3]
                dbm = pnm.decode_pnm(
                    pnm.encode_pbm(bytes(v & 1 for v in vals), 8, 6)
                )["pixels"]
                d16 = bmp.decode_bmp(
                    bmp.encode_bmp(vals, 4, 4, bpp=16)
                )["pixels"]
                swapped = bytearray(vals)
                for j in range(0, 48, 2):
                    swapped[j], swapped[j + 1] = (
                        swapped[j + 1], swapped[j],
                    )
                dic = ico.decode_ico(
                    ico.encode_ico([(bytes(swapped), 4, 3)])
                )[0]["pixels"]
                out["doc_id"].append(doc_id)
                out["qoi_sum"].append(wsum(dq))
                out["bmp_sum"].append(wsum(db))
                out["pnm_sum"].append(wsum(bytes(dp)))
                out["tga_sum"].append(wsum(dt))
                out["rle8_sum"].append(wsum(bytes(d8)))
                out["pbm_sum"].append(wsum(dbm))
                out["bmp16_sum"].append(wsum(d16))
                out["ico_sum"].append(wsum(dic))
            yield pd.DataFrame(out)

    return _codec_docs(spark, sf_dir).mapInPandas(run, schema=ATTEST2_SCHEMA)


#: v_i (1-based i in 1..48) = ascii(md5 hex digit ((i-1) mod 32) + 1);
#: qoi = identity, bmp = reversal -> weight 49-i, pnm = xor 0x5A,
#: tga = rotate-by-7 -> v_i lands at weight ((i+40) mod 48) + 1,
#: rle8 = xor 0xA5, pbm = parity ink (odd -> black 0, even -> 255),
#: bmp16 = the 555 projection q*8 + q//4 with q = v//8 (applied per
#: RGB channel of the 4x4 image, i.e. to every byte), ico = swap of
#: adjacent bytes -> v_i lands at weight i+1 (odd i) / i-1 (even i)
CODEC_ATTEST2_ORACLE = """
WITH a AS (
  SELECT doc_id, i,
         ascii(substring(md5(text),
                         CAST(((i - 1) % 32) + 1 AS INT), 1)) AS v
  FROM documents, (SELECT unnest(range(1, 49)) AS i) t)
SELECT doc_id,
       CAST(SUM(i * v) AS BIGINT) AS qoi_sum,
       CAST(SUM((49 - i) * v) AS BIGINT) AS bmp_sum,
       CAST(SUM(i * xor(v, 90)) AS BIGINT) AS pnm_sum,
       CAST(SUM((((i + 40) % 48) + 1) * v) AS BIGINT) AS tga_sum,
       CAST(SUM(i * xor(v, 165)) AS BIGINT) AS rle8_sum,
       CAST(SUM(i * (CASE WHEN v % 2 = 1 THEN 0 ELSE 255 END))
            AS BIGINT) AS pbm_sum,
       CAST(SUM(i * ((v // 8) * 8 + (v // 8) // 4)) AS BIGINT)
         AS bmp16_sum,
       CAST(SUM((CASE WHEN i % 2 = 1 THEN i + 1 ELSE i - 1 END) * v)
            AS BIGINT) AS ico_sum
FROM a GROUP BY doc_id"""


# Round 11 registration of the r10-staged eight-column codec attest.
QUERIES["multimodal_codec_attest2"] = q_multimodal_codec_attest2
ORACLES["multimodal_codec_attest2"] = CODEC_ATTEST2_ORACLE


# ---------------------------------------------------------------------------
# Round-11 operators.
# ---------------------------------------------------------------------------

ATTEST3_SCHEMA = (
    "doc_id long, pal8_sum long, pal4_sum long, pal1_sum long,"
    " cur_sum long"
)


def q_multimodal_codec_attest3(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-ATTESTED round-trips for the r11 container paths —
    paletted ICO frames at all three depths plus the CUR hotspot
    carry. Per document the kernel derives 16 palette indices from
    md5(text) (the hex DIGIT VALUES this time, 0..15 — the natural
    alphabet of a 16-color palette), paints a 4x4 RGBA image through
    a fixed injective palette P(d) = (17d, 255-17d, 97d mod 256,
    255), stores it as a PALETTED ICO and round-trips it. Each depth
    gets a DIFFERENT arrangement so the columns cannot shadow each
    other: 8-bpp the identity digit order, 4-bpp the reversal, 1-bpp
    the parity ink (odd -> black, even -> white — at most 2 colors
    by construction). The CUR column round-trips a 4x3 RGBA frame of
    xor-0x3C-arranged md5 ascii bytes through the cursor container
    and folds the decoded HOTSPOT (d1 mod 4, d2 mod 3) into the
    checksum, so a dropped or transposed hotspot flips the hash red.
    The DuckDB oracle computes all four position-weighted checksums
    directly from md5(text) in SQL — any corruption in the palette
    build, index packing (MSB-first bit order, 4-bpp nibble order),
    color-table layout, AND-mask interplay, or the CUR directory
    reinterpretation is a red driver row."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def wsum(bs):
            return sum((i + 1) * b for i, b in enumerate(bs))

        def pal(d):
            return (17 * d, 255 - 17 * d, (97 * d) % 256)

        for pdf in batches:
            out = {
                "doc_id": [], "pal8_sum": [], "pal4_sum": [],
                "pal1_sum": [], "cur_sum": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                hx = hashlib.md5(text.encode("utf-8")).hexdigest()
                ds = [int(c, 16) for c in hx[:16]]
                px8 = bytes(
                    b for d in ds for b in (*pal(d), 255)
                )
                px4 = bytes(
                    b for d in reversed(ds) for b in (*pal(d), 255)
                )
                px1 = bytes(
                    b
                    for d in ds
                    for b in ((0, 0, 0, 255) if d % 2 else
                              (255, 255, 255, 255))
                )
                dec = [
                    ico.decode_ico(
                        ico.encode_ico([(px, 4, 4)], paletted={0: bpp})
                    )[0]["pixels"]
                    for px, bpp in ((px8, 8), (px4, 4), (px1, 1))
                ]
                vals = bytes(ord(c) for c in hx)
                vals = vals + vals[:16]  # 48 bytes = 4x3 RGBA
                fr = ico.decode_cur(
                    ico.encode_cur(
                        [(bytes(v ^ 0x3C for v in vals), 4, 3,
                          ds[0] % 4, ds[1] % 3)]
                    )
                )[0]
                out["doc_id"].append(doc_id)
                out["pal8_sum"].append(wsum(dec[0]))
                out["pal4_sum"].append(wsum(dec[1]))
                out["pal1_sum"].append(wsum(dec[2]))
                out["cur_sum"].append(
                    wsum(fr["pixels"])
                    + 100000 * fr["hotspot_x"]
                    + 10000 * fr["hotspot_y"]
                )
            yield pd.DataFrame(out)

    return _codec_docs(spark, sf_dir).mapInPandas(run, schema=ATTEST3_SCHEMA)


#: d_i (1-based i in 1..16) = VALUE of md5 hex digit i; decoded RGBA
#: byte stream for pixel i is (17d, 255-17d, 97d mod 256, 255) at
#: positions 4i-3 .. 4i. pal8 uses d_i, pal4 the reversal d_(17-i),
#: pal1 the parity ink (all three channels 0 if d odd else 255). cur
#: weights ascii bytes v_j (j in 1..48, the attest2 alphabet) xor
#: 0x3C, plus the hotspot terms 1e5*(d_1 mod 4) + 1e4*(d_2 mod 3).
CODEC_ATTEST3_ORACLE = """
WITH dd AS (
  SELECT doc_id, i,
         strpos('0123456789abcdef',
                substring(md5(text), CAST(i AS INT), 1)) - 1 AS d
  FROM documents, (SELECT unnest(range(1, 17)) AS i) t),
p AS (
  SELECT doc_id,
         CAST(SUM((4*i - 3) * (17*d) + (4*i - 2) * (255 - 17*d)
                + (4*i - 1) * ((97*d) % 256) + (4*i) * 255)
              AS BIGINT) AS pal8_sum,
         CAST(SUM((4*(17 - i) - 3) * (17*d)
                + (4*(17 - i) - 2) * (255 - 17*d)
                + (4*(17 - i) - 1) * ((97*d) % 256)
                + (4*(17 - i)) * 255) AS BIGINT) AS pal4_sum,
         CAST(SUM((12*i - 6) * (CASE WHEN d % 2 = 1 THEN 0 ELSE 255 END)
                + (4*i) * 255) AS BIGINT) AS pal1_sum,
         CAST(SUM(CASE WHEN i = 1 THEN 100000 * (d % 4) ELSE 0 END
                + CASE WHEN i = 2 THEN 10000 * (d % 3) ELSE 0 END)
              AS BIGINT) AS hot_sum
  FROM dd GROUP BY doc_id),
c AS (
  SELECT doc_id,
         CAST(SUM(j * xor(
                ascii(substring(md5(text),
                                CAST(((j - 1) % 32) + 1 AS INT), 1)),
                60)) AS BIGINT) AS body_sum
  FROM documents, (SELECT unnest(range(1, 49)) AS j) t
  GROUP BY doc_id)
SELECT p.doc_id, pal8_sum, pal4_sum, pal1_sum,
       CAST(body_sum + hot_sum AS BIGINT) AS cur_sum
FROM p JOIN c ON c.doc_id = p.doc_id"""


from . import tga as _tga  # noqa: E402

ATTEST4_SCHEMA = (
    "doc_id long, tgamono_sum long, tga16_sum long, tgacm_sum long,"
    " bf565_sum long, bmp2_sum long, pam_sum long"
)


def q_multimodal_codec_attest4(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-ATTESTED round-trips for the r11 gate closures — the
    attest discipline over TGA monochrome / 16-bpp / color-mapped,
    BMP BITFIELDS-565, 2-bpp BMP, and PAM P7. Per document: 48
    md5-derived ascii bytes (and the 16 hex-digit values for the
    paletted paths), each codec under a DIFFERENT deterministic
    arrangement so no column can shadow another (mono xor 0x11,
    16-bpp the reversal through quantize+replicate, color-mapped the
    digit palette, 565 xor 0x69 with per-channel 5/6/5 projection,
    2-bpp the digit%4 gray ramp, PAM an 11-byte rotation). Encode,
    DECODE with the real decoder, emit the position-weighted checksum
    of the DECODED bytes; the DuckDB oracle computes all six sums
    directly from md5(text) — any corruption in the new unpack paths
    (gray RLE, A1R5G5B5 replication, color-map origin offsets,
    BITFIELDS mask math, quarter-byte unpacking, PAM header/raster)
    flips the value hash red."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def wsum(bs):
            return sum((i + 1) * b for i, b in enumerate(bs))

        for pdf in batches:
            out = {
                "doc_id": [], "tgamono_sum": [], "tga16_sum": [],
                "tgacm_sum": [], "bf565_sum": [], "bmp2_sum": [],
                "pam_sum": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                hx = hashlib.md5(text.encode("utf-8")).hexdigest()
                vals = bytes(ord(c) for c in hx)
                vals = vals + vals[:16]  # 48 bytes
                ds = [int(c, 16) for c in hx[:16]]
                mono = bytes(v ^ 0x11 for v in vals)
                dm = _tga.decode_tga(
                    _tga.encode_tga(mono, 8, 6, channels=1, rle=True)
                )["pixels"]
                d16 = _tga.decode_tga(
                    _tga.encode_tga16(bytes(reversed(vals)), 4, 4,
                                      rle=True)
                )["pixels"]
                pal = [(17 * d, 255 - 17 * d, (97 * d) % 256)
                       for d in range(16)]
                dcm = _tga.decode_tga(
                    _tga.encode_tga_cmap(bytes(ds), 4, 4, pal, first=2)
                )["pixels"]
                dbf = bmp.decode_bmp(
                    bmp.encode_bmp_bitfields(
                        bytes(v ^ 0x69 for v in vals), 4, 4
                    )
                )["pixels"]
                db2 = bmp.decode_bmp(
                    bmp.encode_bmp_palette2(
                        bytes(d % 4 for d in ds), 4, 4
                    )
                )["pixels"]
                rot = vals[11:] + vals[:11]
                dpm = pnm.decode_pnm(pnm.encode_pam(rot, 4, 4, depth=3))[
                    "pixels"
                ]
                out["doc_id"].append(doc_id)
                out["tgamono_sum"].append(wsum(dm))
                out["tga16_sum"].append(wsum(d16))
                out["tgacm_sum"].append(wsum(dcm))
                out["bf565_sum"].append(wsum(dbf))
                out["bmp2_sum"].append(wsum(db2))
                out["pam_sum"].append(wsum(dpm))
            yield pd.DataFrame(out)

    return _codec_docs(spark, sf_dir).mapInPandas(run, schema=ATTEST4_SCHEMA)


#: v_j (j in 1..48) = ascii(md5 hex char ((j-1) mod 32) + 1); d_i
#: (i in 1..16) = VALUE of hex digit i. rep5(v) = (v//8)*8+(v//8)//4,
#: rep6(v) = (v//4)*4+(v//4)//16 (MSB-first bit replication of the
#: quantized channel). tgamono = xor 0x11 identity; tga16 = reversal
#: (weight 49-j) through rep5 per byte; tgacm = digit palette
#: (17d, 255-17d, 97d mod 256) flattened RGB; bf565 = xor 0x69 with
#: rep5/rep6/rep5 by channel position (j mod 3 = 1 -> G only when
#: j%3==2 in 1-based flat RGB: positions 3i-2,3i-1,3i are R,G,B);
#: bmp2 = (d mod 4)*85 as R=G=B; pam = rotate-by-11 identity.
CODEC_ATTEST4_ORACLE = """
WITH a AS (
  SELECT doc_id, j,
         ascii(substring(md5(text),
                         CAST(((j - 1) % 32) + 1 AS INT), 1)) AS v
  FROM documents, (SELECT unnest(range(1, 49)) AS j) t),
dd AS (
  SELECT doc_id, i,
         strpos('0123456789abcdef',
                substring(md5(text), CAST(i AS INT), 1)) - 1 AS d
  FROM documents, (SELECT unnest(range(1, 17)) AS i) t),
b AS (
  SELECT doc_id,
         CAST(SUM(j * xor(v, 17)) AS BIGINT) AS tgamono_sum,
         CAST(SUM((49 - j) *
                ((v // 8) * 8 + (v // 8) // 4)) AS BIGINT) AS tga16_sum,
         CAST(SUM(CASE WHEN j % 3 = 2
                       THEN j * ((xor(v, 105) // 4) * 4
                                 + (xor(v, 105) // 4) // 16)
                       ELSE j * ((xor(v, 105) // 8) * 8
                                 + (xor(v, 105) // 8) // 4)
                  END) AS BIGINT) AS bf565_sum,
         CAST(SUM((CASE WHEN j >= 12 THEN j - 11 ELSE j + 37 END) * v)
              AS BIGINT) AS pam_sum
  FROM a GROUP BY doc_id),
p AS (
  SELECT doc_id,
         CAST(SUM((3*i - 2) * (17*d) + (3*i - 1) * (255 - 17*d)
                + (3*i) * ((97*d) % 256)) AS BIGINT) AS tgacm_sum,
         CAST(SUM((9*i - 3) * ((d % 4) * 85)) AS BIGINT) AS bmp2_sum
  FROM dd GROUP BY doc_id)
SELECT b.doc_id, tgamono_sum, tga16_sum, tgacm_sum, bf565_sum,
       bmp2_sum, pam_sum
FROM b JOIN p ON p.doc_id = b.doc_id"""

QUERIES["multimodal_codec_attest3"] = q_multimodal_codec_attest3
ORACLES["multimodal_codec_attest3"] = CODEC_ATTEST3_ORACLE
QUERIES["multimodal_codec_attest4"] = q_multimodal_codec_attest4
ORACLES["multimodal_codec_attest4"] = CODEC_ATTEST4_ORACLE


# ---------------------------------------------------------------------------
# REGISTERED r13.
# multimodal_codec_attest5: the attest discipline over the r12 codec
# work — audio-first AVI stream resolution + wide-PCM WAV widths.
# ---------------------------------------------------------------------------

ATTEST5_SCHEMA = "doc_id long, avi_sum long, pcm24_sum long, pcm32_sum long"


def q_multimodal_codec_attest5(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-ATTESTED round-trips for the r12 codec closures. Per
    document, from md5(text): (a) a 4x4 RGB frame of xor-0x5A ascii
    bytes stored in an AUDIO-FIRST uncompressed-DIB AVI (a silent PCM
    strl precedes the vids strl — the stream order the old
    first-strh scan rejected as corrupt; decode must resolve the
    video stream BY strl to return any pixels at all), (b) 32
    24-bit PCM samples s_j = (v_j-60)*65536 + 17*v_j — every sample
    EXCEEDS int16 range, so a width-confusing decode cannot stay
    green — and (c) 32 32-bit PCM samples s_j = (v_j-60)*2^24 + v_j,
    every sample exceeding the 24-bit range likewise. Encode, decode
    with the real codecs, emit position-weighted checksums of the
    DECODED values; the DuckDB oracle computes all three directly
    from md5(text) in SQL."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def wsum(bs):
            return sum((i + 1) * b for i, b in enumerate(bs))

        for pdf in batches:
            out = {
                "doc_id": [], "avi_sum": [], "pcm24_sum": [],
                "pcm32_sum": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                hx = hashlib.md5(text.encode("utf-8")).hexdigest()
                vals = bytes(ord(c) for c in hx)
                vals = vals + vals[:16]  # 48 bytes = 4x4 RGB
                px = bytes(v ^ 0x5A for v in vals)
                frame = avi.decode_avi_frames(
                    avi.encode_avi_dib([px], 4, 4, fps=5,
                                       audio_first=True)
                )[0]["pixels"]
                s24 = [(v - 60) * 65536 + 17 * v for v in vals[:32]]
                d24 = wav.decode_wav(
                    wav.encode_wav(s24, sampwidth=3)
                )["samples"]
                s32 = [(v - 60) * 16_777_216 + v for v in vals[:32]]
                d32 = wav.decode_wav(
                    wav.encode_wav(s32, sampwidth=4)
                )["samples"]
                out["doc_id"].append(doc_id)
                out["avi_sum"].append(wsum(frame))
                out["pcm24_sum"].append(wsum(d24))
                out["pcm32_sum"].append(wsum(d32))
            yield pd.DataFrame(out)

    return _codec_docs(spark, sf_dir).mapInPandas(run, schema=ATTEST5_SCHEMA)


#: v_j (j in 1..48) = ascii(md5 hex char ((j-1) mod 32) + 1).
#: avi_sum  = sum j * (v_j xor 0x5A)              over j in 1..48
#: pcm24_sum = sum j * ((v_j-60)*65536 + 17*v_j)  over j in 1..32
#: pcm32_sum = sum j * ((v_j-60)*2^24 + v_j)      over j in 1..32
CODEC_ATTEST5_ORACLE = """
WITH v AS (
  SELECT doc_id, j,
         ascii(substring(md5(text),
                         CAST(((j - 1) % 32) + 1 AS INT), 1)) AS v
  FROM documents, (SELECT unnest(range(1, 49)) AS j) t)
SELECT doc_id,
       CAST(SUM(j * xor(v, 90)) AS BIGINT) AS avi_sum,
       CAST(SUM(CASE WHEN j <= 32
                     THEN j * ((v - 60) * 65536 + 17 * v)
                     ELSE 0 END) AS BIGINT) AS pcm24_sum,
       CAST(SUM(CASE WHEN j <= 32
                     THEN j * ((v - 60) * 16777216 + v)
                     ELSE 0 END) AS BIGINT) AS pcm32_sum
FROM v GROUP BY doc_id"""

# registered r13
QUERIES["multimodal_codec_attest5"] = q_multimodal_codec_attest5
ORACLES["multimodal_codec_attest5"] = CODEC_ATTEST5_ORACLE


# ---------------------------------------------------------------------------
# Round-13 operators.
# ingestion_codec_attest: the attest discipline over the raw-file
# ingestion source — md5-derived PCM encoded to REAL files on disk,
# ingested back through read_binary_files, decoded, and checksummed
# against an oracle computed straight from md5(text) in SQL. This is
# the ingestion-to-checksum end-to-end the r12 verdict asked for: it
# proves the binaryFile listing, payload byte-integrity, the content
# -hash doc_id convention, AND the codec kernel in ONE oracled pass.
# ---------------------------------------------------------------------------

INGEST_ATTEST_SCHEMA = (
    "doc_id long, n_bytes long, pcm_sum long, id_ok int"
)


def q_ingestion_codec_attest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end raw-ingestion attest. Per document, from md5(text):
    32 16-bit PCM samples s_j = (v_j - 60) * 257 are encoded with the
    real WAV codec and WRITTEN TO DISK as <doc_id>.wav in a private
    temp corpus; the files then re-enter through read_binary_files
    (the production ingestion source — recursive listing, glob
    pruning, binary payloads) and are decoded back. The output
    attests, per original document: the payload byte length the
    source reported (108 = 44-byte canonical WAV header + 64 sample
    bytes), the position-weighted checksum of the DECODED samples,
    and id_ok — whether the source's content-hash doc_id equals
    md5(payload) recomputed over the ingested bytes (the full
    128-bit convention from the r12 hardening). The DuckDB oracle
    computes every column directly from md5(text) in SQL, so a break
    ANYWHERE in write → list → read → id → decode goes red.

    The attested set is the deterministic ~INGEST_SAMPLE_TARGET-doc
    md5 hash-sample shared with ingestion_text_attest (bounds the
    per-doc file writes — the r13 scale probe's only linear term; the
    oracle applies the identical integer predicate, so it stays exact
    over the sampled set).

    Scale shape: the write pass is mapInPandas (distributed,
    idempotent per task retry — same name, same bytes) over the
    BOUNDED sample, forced once via a 1-row aggregate; the local temp
    dir stands in for the shared filesystem (S3/HDFS) a cluster
    deployment points the same two calls at, and is removed EAGERLY
    once the result is checkpointed. No driver-side per-doc loop
    anywhere."""
    import atexit
    import os
    import shutil
    import tempfile

    from ..operators.textops import _ingest_sample_thr, ingest_sample_hash
    from ..sources.io import read_binary_files

    d = tempfile.mkdtemp(prefix="tfdp-ingest-wav-")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    base = load_table(spark, sf_dir, "documents")
    thr = _ingest_sample_thr(base.count())
    docs = base.select("doc_id", "text").filter(
        ingest_sample_hash(F.col("doc_id")) <= F.lit(thr)
    )

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                hx = hashlib.md5(text.encode("utf-8")).hexdigest()
                s16 = [(ord(c) - 60) * 257 for c in hx]
                data = wav.encode_wav(s16, sample_rate=8_000)
                with open(os.path.join(d, f"{doc_id}.wav"), "wb") as f:
                    f.write(data)
            yield pd.DataFrame({"n": [len(pdf)]})

    # force the write pass exactly once (bounded 1-row collect)
    docs.mapInPandas(write, schema="n long").agg(F.sum("n")).collect()

    ing = read_binary_files(spark, d, glob="*.wav").select(
        F.regexp_extract("path", "([0-9]+)[.]wav$", 1)
        .cast("long")
        .alias("orig_id"),
        F.col("length").alias("n_bytes"),
        (F.md5(F.col("payload")) == F.col("doc_id"))
        .cast("int")
        .alias("id_ok"),
        "payload",
    )

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "n_bytes": [], "pcm_sum": [], "id_ok": [],
            }
            for oid, nb, ok, payload in zip(
                pdf["orig_id"], pdf["n_bytes"], pdf["id_ok"],
                pdf["payload"],
            ):
                samples = wav.decode_wav(bytes(payload))["samples"]
                out["doc_id"].append(oid)
                out["n_bytes"].append(nb)
                out["pcm_sum"].append(
                    sum((i + 1) * s for i, s in enumerate(samples))
                )
                out["id_ok"].append(ok)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "n_bytes": pd.Series(out["n_bytes"], dtype="int64"),
                    "pcm_sum": pd.Series(out["pcm_sum"], dtype="int64"),
                    "id_ok": pd.Series(out["id_ok"], dtype="int32"),
                }
            )

    out = ing.mapInPandas(dec, schema=INGEST_ATTEST_SCHEMA)
    # materialize BEFORE the temp corpus vanishes; also frees the dir
    # eagerly instead of at interpreter exit (ADVICE r13)
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(d, ignore_errors=True)
    return out


#: v_j (j in 1..32) = ascii(md5 hex char j); s_j = (v_j - 60) * 257.
#: n_bytes = 44 (canonical WAV header) + 2 * 32; pcm_sum = sum j * s_j.
#: Sampled to the shared deterministic hash-sample (textops twin).
def _ingest_attest_oracle() -> str:
    from ..operators.textops import INGEST_SAMPLE_SQL

    return f"""
WITH v AS (
  SELECT doc_id, j,
         ascii(substring(md5(text), CAST(j AS INT), 1)) AS v
  FROM documents, (SELECT unnest(range(1, 33)) AS j) t
  WHERE {INGEST_SAMPLE_SQL})
SELECT doc_id,
       CAST(108 AS BIGINT) AS n_bytes,
       CAST(SUM(j * ((v - 60) * 257)) AS BIGINT) AS pcm_sum,
       CAST(1 AS INT) AS id_ok
FROM v GROUP BY doc_id"""


INGEST_ATTEST_ORACLE = _ingest_attest_oracle()
QUERIES["ingestion_codec_attest"] = q_ingestion_codec_attest
ORACLES["ingestion_codec_attest"] = INGEST_ATTEST_ORACLE
