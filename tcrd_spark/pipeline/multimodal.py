"""Multimodal column plumbing: image/audio/video as opaque `binary`
columns with typed metadata, processed by Arrow-batched mapInPandas.

The Spark-side mechanics here are real and tested — schema, batch
shape, partition sizing, UDF signatures. The decode has three tiers:
the default deterministic fake (features derived from the bytes, so
the pipeline is end-to-end checkable against an oracle); with
`real_decode=True`, PIL when installed (full decode, any format),
else a pure-stdlib header parse of PNG/GIF/JPEG dimensions; unknown
formats without PIL raise rather than silently faking. Pixel
resampling (resize) and video frame decode require real codecs and
raise without them.

Scale notes: binary payloads ride the normal columnar path (parquet
binary + Arrow batches into pandas). Keep payload columns OUT of
shuffles: extract features first (map-side), shuffle only the small
feature columns. `spark.sql.files.maxPartitionBytes` governs scan
parallelism when payloads are MBs each; for 100 TB of media, store
payloads in their own table keyed by content hash and join features.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id long, n_bytes int, content_hash long, width int, height int"
)


def attach_fake_payload(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Make an (id, payload binary, media_type, meta struct) table from
    the documents table — the shape a real ingest would produce."""
    return docs.select(
        F.col(id_col),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.lit("image/fake").alias("media_type"),
        F.struct(
            F.length(F.col(text_col)).alias("n_bytes"),
            F.lit("synthetic").alias("origin"),
        ).alias("meta"),
    )


def _fake_decoder():
    """The deterministic stand-in for an image decode: derive WxH from
    the first and last bytes. Replace with PIL/libvips in a real
    deployment. It is built here, not defined at module level, so
    cloudpickle ships it by value: a worker running the fake decode
    then needs no import of this package."""

    def decode(payload: bytes) -> tuple[int, int]:
        w = 16 + (payload[0] % 64) if payload else 16
        h = 16 + (payload[-1] % 64) if payload else 16
        return w, h

    return decode


def _have_pil() -> bool:
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def _real_decode(payload: bytes) -> tuple[int, int]:
    """Real image dimensions. PIL when installed (full decode, any
    format it supports); otherwise a pure-stdlib header parse of the
    three container formats a training corpus actually carries —
    PNG IHDR, GIF logical screen, JPEG SOFn. Anything else raises,
    keeping the honest not-a-real-decoder failure mode for unknown
    bytes instead of silently faking."""
    import struct

    if _have_pil():
        import io

        from PIL import Image

        with Image.open(io.BytesIO(payload)) as im:
            return im.size
    if payload[:8] == b"\x89PNG\r\n\x1a\n" and payload[12:16] == b"IHDR":
        w, h = struct.unpack(">II", payload[16:24])
        return w, h
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", payload[6:10])
        return w, h
    if payload[:2] == b"\xff\xd8":  # JPEG: scan segments for SOFn
        i = 2
        while i + 9 < len(payload):
            if payload[i] != 0xFF:
                break
            marker = payload[i + 1]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                return w, h
            seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
            i += 2 + seg_len
    raise NotImplementedError(
        "real media decode: unrecognized image format and PIL is not "
        "installed — install Pillow for full-format support"
    )


def extract_features(
    media: DataFrame, id_col: str = "doc_id", real_decode: bool = False
) -> DataFrame:
    """mapInPandas feature extraction over the binary payload column.

    Arrow delivers each partition as an iterator of pandas batches —
    the UDF never materializes a whole partition, so payload-heavy
    partitions stream through in bounded memory.
    """
    import hashlib

    decode = _real_decode if real_decode else _fake_decoder()

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [decode(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "content_hash": [
                        int(hashlib.md5(p).hexdigest()[:15], 16)
                        for p in pdf["payload"]
                    ],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                }
            )

    return media.mapInPandas(extract, FEATURE_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id long, payload binary, width int, height int, "
    "src_width int, src_height int"
)


def resize_images(
    media: DataFrame,
    width: int,
    height: int,
    id_col: str = "doc_id",
    real_decode: bool = False,
) -> DataFrame:
    """mapInPandas image resize: (id, payload) → (id, resized payload,
    new dims, source dims). The Spark plumbing — binary in AND binary
    out through Arrow, bounded-memory batch iteration — is real. With
    real_decode, pixels go through PIL when installed, else the
    pure-Python PNG codec (functions/png.py, nearest-neighbor);
    real_decode=False keeps the deterministic fake (payload
    truncated/repeated to the byte budget) for plumbing tests."""
    fake_decode = _fake_decoder()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        budget = max(1, width * height // 8)
        for pdf in batches:
            if real_decode:
                if _have_pil():
                    import io

                    from PIL import Image

                    src, out = [], []
                    for p in pdf["payload"]:
                        with Image.open(io.BytesIO(p)) as im:
                            src.append(im.size)
                            buf = io.BytesIO()
                            im.resize((width, height)).save(
                                buf, format="PNG"
                            )
                            out.append(buf.getvalue())
                else:
                    # no PIL: the pure-Python PNG codec covers the
                    # common case (8-bit non-interlaced PNG, nearest-
                    # neighbor); other formats still fail loudly
                    from tcrd_spark.functions.png import resize_png

                    src, out = [], []
                    for p in pdf["payload"]:
                        if not bytes(p).startswith(b"\x89PNG"):
                            raise NotImplementedError(
                                "real resize without Pillow supports "
                                "PNG only (functions/png.py); install "
                                "Pillow for other formats"
                            )
                        resized, sw, sh = resize_png(
                            bytes(p), width, height
                        )
                        src.append((sw, sh))
                        out.append(resized)
            else:
                src = [fake_decode(p) for p in pdf["payload"]]
                out = [
                    bytes((p * (budget // max(1, len(p)) + 1))[:budget])
                    for p in pdf["payload"]
                ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": out,
                    "width": width,
                    "height": height,
                    "src_width": [d[0] for d in src],
                    "src_height": [d[1] for d in src],
                }
            )

    return media.mapInPandas(run, RESIZE_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx int, frame binary"


def sample_frames(
    media: DataFrame,
    n_frames: int,
    id_col: str = "doc_id",
    real_decode: bool = False,
) -> DataFrame:
    """mapInPandas video frame sampling: one input row fans out to
    n_frames output rows (id, frame_idx, frame payload) — the
    batch-shape-changing case (1→N inside the UDF, no explode needed).
    Fake frames are deterministic byte slices; a real build swaps in a
    video decoder per batch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if real_decode:
                raise NotImplementedError(
                    "real frame sampling requires a video library"
                )
            ids, idxs, frames = [], [], []
            for i, p in zip(pdf[id_col], pdf["payload"]):
                step = max(1, len(p) // n_frames)
                for k in range(n_frames):
                    ids.append(i)
                    idxs.append(k)
                    frames.append(bytes(p[k * step : k * step + step]))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return media.mapInPandas(run, FRAME_SCHEMA)


# ------------------------------------------------- testdata binding

from pyspark.sql import SparkSession  # noqa: E402

from tcrd_spark.sources.lake import load_table  # noqa: E402


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction; the oracle reproduces the
    fake decode arithmetically (payload = utf-8 of text, ASCII here, so
    first/last byte = first/last char code)."""
    docs = load_table(spark, sf_dir, "documents")
    media = attach_fake_payload(docs, "doc_id", "text")
    return extract_features(media, "doc_id")


QUERIES = {"multimodal_features": q_multimodal_features}

ORACLE = {
    "multimodal_features": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
               CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)
                   AS content_hash,
               CAST(16 + ord(substr(text, 1, 1)) % 64 AS INTEGER) AS width,
               CAST(16 + ord(substr(text, -1, 1)) % 64 AS INTEGER) AS height
        FROM documents
    """,
}


# ------------------------------------------------------------------ audio

AUDIO_FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, sample_rate int, channels int, "
    "bits int, n_samples long, duration_ms double, rms double"
)


def wav_pcm(payload: bytes, what: str = "real audio decode"):
    """RIFF/WAVE PCM parse shared by the feature extractor here and
    the audio fingerprinter (`pipeline/audiodup.py`) — pure stdlib
    (struct over the RIFF chunk list): → (fmt fields tuple, raw
    interleaved samples, amplitude scale). Compressed formats
    (MP3/Opus/FLAC) raise — the honest stub boundary, same contract
    as `_real_decode` for images."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError(
            f"{what}: only RIFF/WAVE PCM is stdlib-parseable; "
            "install an audio library for compressed formats"
        )
    i, fmt, data = 12, None, None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        (clen,) = struct.unpack("<I", payload[i + 4 : i + 8])
        body = payload[i + 8 : i + 8 + clen]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        i += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise NotImplementedError(f"{what}: malformed WAV")
    audio_fmt, _channels, _rate, _brate, _align, bits = fmt
    if audio_fmt != 1 or bits not in (8, 16):
        raise NotImplementedError(
            f"{what}: non-PCM ({audio_fmt}) or {bits}-bit WAV"
        )
    if bits == 16:
        n = len(data) // 2
        samples = struct.unpack(f"<{n}h", data[: n * 2])
        scale = 32768.0
    else:
        samples = tuple(b - 128 for b in data)
        scale = 128.0
    return fmt, samples, scale


def _decode_wav(payload: bytes) -> dict:
    """REAL audio decode for RIFF/WAVE PCM: header fields plus an RMS
    amplitude over the PCM samples (8-bit unsigned / 16-bit signed
    little-endian, the formats a training corpus's WAV slice actually
    carries). The parse itself is the shared `wav_pcm`."""
    fmt, samples, scale = wav_pcm(payload)
    _audio_fmt, channels, rate, _brate, _align, _bits = fmt
    bits = _bits
    n_frames = len(samples) // channels if channels else 0
    rms = (
        (sum((s / scale) ** 2 for s in samples) / len(samples)) ** 0.5
        if samples
        else 0.0
    )
    return {
        "sample_rate": rate,
        "channels": channels,
        "bits": bits,
        "n_samples": n_frames,
        "duration_ms": (n_frames * 1000.0 / rate) if rate else 0.0,
        "rms": rms,
    }


def extract_audio_features(
    media: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """mapInPandas audio feature extraction (binary in, scalars out):
    same bounded-memory Arrow-batch shape as extract_features — the
    payload never enters a shuffle, only the scalar features do."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_decode_wav(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "sample_rate": [f["sample_rate"] for f in feats],
                    "channels": [f["channels"] for f in feats],
                    "bits": [f["bits"] for f in feats],
                    "n_samples": [f["n_samples"] for f in feats],
                    "duration_ms": [f["duration_ms"] for f in feats],
                    "rms": [f["rms"] for f in feats],
                }
            )

    return media.mapInPandas(extract, AUDIO_FEATURE_SCHEMA)
