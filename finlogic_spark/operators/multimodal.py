"""Multimodal column plumbing (engine-scope addition): image/audio/video
as opaque ``binary`` columns with typed metadata, processed by
Arrow-batched pandas functions over ``mapInPandas``.

The decode kernels are DETERMINISTIC FAKES — the container has no
image/audio libraries (see north star: stub the decode, make the
Spark-side plumbing real). Each fake parses the header our generator
writes and derives features from md5 bytes, so results are stable
across runs/engines and the real libs can be dropped in later behind
the same interface (``_decode_image_bytes`` / ``_decode_audio_bytes``).

Scale notes:
- ``mapInPandas`` ships Arrow batches (not rows) across the Python
  boundary — the only acceptable Python-UDF shape at 100 TB.
- Media payloads are large: keep them in their own column, repartition
  by media_id before wide fan-out, and project the binary column away
  as soon as features are extracted (column pruning can't help if the
  blob rides along in every downstream row).
- spark.sql.execution.arrow.maxRecordsPerBatch bounds decoder memory.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("data", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                    T.StructField("format", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

_MAGIC = b"FLSM"  # fake container format: magic + w + h + sr + frames


def _fake_payload(media_id: int, kind: str, w: int, h: int, sr: int, frames: int) -> bytes:
    header = _MAGIC + struct.pack(">iiii", w, h, sr, frames)
    body = hashlib.md5(f"{kind}|{media_id}".encode()).digest() * 8
    return header + body


def make_fake_media(spark, n: int = 64) -> DataFrame:
    """Deterministic synthetic media table matching MEDIA_SCHEMA."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        w, h = 64 + (i % 4) * 32, 48 + (i % 3) * 16
        sr = 16000 if kind != "image" else 0
        frames = 1 if kind == "image" else 25 + i % 10
        rows.append(
            (
                i,
                kind,
                bytearray(_fake_payload(i, kind, w, h, sr, frames)),
                (w, h, sr, frames, "flsm"),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _decode_header(data: bytes) -> tuple[int, int, int, int]:
    if data is None or len(data) < 20 or data[:4] != _MAGIC:
        raise ValueError("unknown media container (stub decoder)")
    return struct.unpack(">iiii", data[4:20])


# ---------------------------------------------------------------------------
# Pluggable decoders: decode(kind, raw) -> {width, height, n_frames, body}.
# ``body`` is whatever byte payload downstream feature extraction should
# hash/encode (decoded pixels for a real codec, the raw payload for the
# stub). The stub is the hermetic default; ``pil_decoder`` drops a real
# image codec behind the SAME interface when Pillow is installed — the
# Spark-side plumbing (schema, Arrow batching, binary-in) is identical.
# ---------------------------------------------------------------------------

def stub_decoder(kind: str, raw: bytes) -> dict:
    """Deterministic fake: parse the FLSM header our generator writes."""
    w, h, _sr, frames = _decode_header(raw)
    return {"width": w, "height": h, "n_frames": frames, "body": raw}


def have_pil() -> bool:
    import importlib.util

    return importlib.util.find_spec("PIL") is not None


def pil_decoder(kind: str, raw: bytes) -> dict:
    """Real image codec via Pillow (optional dependency): decodes
    PNG/JPEG/... payloads to pixel bytes; non-image kinds (and FLSM
    stub containers) fall through to the stub so mixed tables work.
    Without Pillow, PNG payloads fall back to the pure-stdlib
    ``png_decoder`` — the hermetic container still decodes real PNGs."""
    if kind != "image" or (raw is not None and raw[:4] == _MAGIC):
        return stub_decoder(kind, raw)
    if not have_pil():
        return png_decoder(kind, raw)
    import io

    from PIL import Image  # noqa: PLC0415 — optional, import-gated

    with Image.open(io.BytesIO(bytes(raw))) as im:
        w, h = im.size
        frames = int(getattr(im, "n_frames", 1))
        body = im.convert("RGB").tobytes()
    return {"width": w, "height": h, "n_frames": frames, "body": body}


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels per pixel by PNG color type (bit depth 8, non-interlaced)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_decoder(kind: str, raw: bytes) -> dict:
    """Real PNG codec in pure stdlib (zlib inflate + full filter
    reconstruction per the PNG spec): no image library needed, so the
    real-container decode path runs even in the hermetic test env.
    Supports bit depth 8, color types 0/2/4/6, non-interlaced — the
    shapes every PNG encoder emits by default. ``body`` is RGB24
    scanlines (alpha dropped, gray replicated), matching what
    ``pil_decoder``'s ``convert("RGB").tobytes()`` produces so the two
    codecs are interchangeable downstream. Non-image kinds and FLSM
    stub containers fall through to the stub, same as ``pil_decoder``."""
    if kind != "image" or (raw is not None and raw[:4] == _MAGIC):
        return stub_decoder(kind, raw)
    import zlib  # noqa: PLC0415 — stdlib, decode path only

    data = bytes(raw)
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload (png_decoder)")
    pos, w = 8, None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # len + type + data + crc
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
            if depth != 8 or color not in _PNG_CHANNELS or interlace:
                raise ValueError(
                    f"unsupported PNG shape (depth={depth}, color={color}, "
                    f"interlace={interlace})"
                )
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    ch = _PNG_CHANNELS[color]
    stride = w * ch
    flat = zlib.decompress(bytes(idat))
    if len(flat) != h * (stride + 1):
        raise ValueError("PNG IDAT length mismatch")
    # Filter reconstruction: each scanline leads with its filter type;
    # a/b/c are the left / above / above-left reconstructed bytes.
    # r16 (guide §4.3 "vectorize the kernel"): filters 0/1/2 have
    # CLOSED-FORM reconstructions — None is a copy, Up is one wrapping
    # uint8 vector add against the previous line, Sub is a per-channel
    # running sum (cumsum mod 256, exact: the uint64 cumsum of uint8
    # can't overflow below 2^56 pixels) — so only Average/Paeth keep
    # the inherently left-sequential per-byte loop. The gray/alpha →
    # RGB24 conversions (previously per-pixel Python on EVERY row) are
    # vectorized too. Byte-identical by modular arithmetic; pinned by
    # the exact encode→decode round-trip tests.
    import numpy as np  # noqa: PLC0415 — decode path only

    farr = np.frombuffer(flat, dtype=np.uint8).reshape(h, stride + 1)
    ftypes = farr[:, 0]
    bad = ftypes[ftypes > 4]
    if len(bad):
        raise ValueError(f"bad PNG filter type {int(bad[0])}")
    prev = np.zeros(stride, dtype=np.uint8)
    parts: list[bytes] = []
    for y in range(h):
        ftype = int(ftypes[y])
        line = farr[y, 1:]
        if ftype == 1:  # Sub: per-channel cumsum mod 256
            line = (
                np.cumsum(
                    line.reshape(-1, ch).astype(np.uint64), axis=0
                ) & 0xFF
            ).astype(np.uint8).reshape(-1)
        elif ftype == 2:  # Up: wrapping vector add
            line = line + prev  # uint8 + uint8 wraps mod 256
        elif ftype in (3, 4):  # Average / Paeth: left-sequential
            raw = bytearray(line.tobytes())
            pv = bytearray(prev.tobytes())
            if ftype == 3:
                for i in range(stride):
                    a = raw[i - ch] if i >= ch else 0
                    raw[i] = (raw[i] + ((a + pv[i]) >> 1)) & 0xFF
            else:
                for i in range(stride):
                    a = raw[i - ch] if i >= ch else 0
                    c = pv[i - ch] if i >= ch else 0
                    raw[i] = (raw[i] + _paeth(a, pv[i], c)) & 0xFF
            line = np.frombuffer(bytes(raw), dtype=np.uint8)
        else:  # 0: None
            line = line.copy()
        # to RGB24: replicate gray, drop alpha (vectorized)
        if color == 2:
            parts.append(line.tobytes())
        elif color == 6:
            parts.append(line.reshape(-1, 4)[:, :3].tobytes())
        elif color == 0:
            parts.append(np.repeat(line, 3).tobytes())
        else:  # 4: gray + alpha
            parts.append(np.repeat(line.reshape(-1, 2)[:, 0], 3).tobytes())
        prev = line
    return {"width": w, "height": h, "n_frames": 1, "body": b"".join(parts)}


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("byte_len", T.IntegerType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
    ]
)


def _bytes_to_embedding(data: bytes, dim: int) -> list[float]:
    """Deterministic pseudo-embedding from md5 chunks of the payload —
    stands in for a real vision/audio encoder."""
    out: list[float] = []
    counter = 0
    while len(out) < dim:
        d = hashlib.md5(data + counter.to_bytes(4, "big")).digest()
        for off in range(0, 16, 4):
            (u,) = struct.unpack(">I", d[off : off + 4])
            out.append((u / 2**31) - 1.0)
        counter += 1
    return out[:dim]


def extract_features(
    media: DataFrame,
    dim: int = 16,
    # The codec seam: test_multimodal.py drives pil_decoder (real PNG
    # containers, stub fallback) and a swapped codec through it; the
    # registry rows use the stub.
    decoder=stub_decoder,
) -> DataFrame:
    """binary payload → (decoded metadata, embedding) via Arrow-batched
    mapInPandas; the binary column does NOT survive into the output.

    ``decoder`` swaps the codec (see ``stub_decoder``/``pil_decoder``);
    the output schema is decoder-independent. byte_len always reports
    the stored payload size (storage accounting), while the embedding
    is computed from the decoder's body (pixels for a real codec)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs = []
            for media_id, kind, data in zip(
                pdf["media_id"], pdf["kind"], pdf["data"]
            ):
                raw = bytes(data)
                d = decoder(kind, raw)
                recs.append(
                    {
                        "media_id": media_id,
                        "kind": kind,
                        "width": d["width"],
                        "height": d["height"],
                        "n_frames": d["n_frames"],
                        "byte_len": len(raw),
                        "embedding": _bytes_to_embedding(d["body"], dim),
                    }
                )
            yield pd.DataFrame(recs, columns=[f.name for f in FEATURES_SCHEMA])

    return media.select("media_id", "kind", "data").mapInPandas(
        batches, FEATURES_SCHEMA
    )


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("data", T.BinaryType(), True),
    ]
)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Stubbed image resize: rewrites the fake container header with the
    target dimensions (a real implementation swaps in PIL here; the
    plumbing — filter to images, Arrow batches, binary-in/binary-out —
    is the production shape)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs = []
            for media_id, data in zip(pdf["media_id"], pdf["data"]):
                raw = bytes(data)
                _w, _h, sr, frames = _decode_header(raw)
                new = _MAGIC + struct.pack(">iiii", width, height, sr, frames) + raw[20:]
                recs.append({"media_id": media_id, "width": width, "height": height, "data": bytearray(new)})
            yield pd.DataFrame(recs, columns=[f.name for f in RESIZE_SCHEMA])

    return (
        media.filter(F.col("kind") == "image")
        .select("media_id", "data")
        .mapInPandas(batches, RESIZE_SCHEMA)
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_hash", T.StringType(), True),
    ]
)


def sample_frames(media: DataFrame, every_n: int = 5) -> DataFrame:
    """Stubbed video frame sampling: emits one row per sampled frame
    index with a deterministic per-frame hash (a real implementation
    decodes frames here). Output grain change (1 row per media →
    N rows) is the real plumbing being exercised."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs = []
            for media_id, data in zip(pdf["media_id"], pdf["data"]):
                raw = bytes(data)
                _w, _h, _sr, frames = _decode_header(raw)
                for idx in range(0, frames, every_n):
                    fh = hashlib.md5(raw + idx.to_bytes(4, "big")).hexdigest()
                    recs.append(
                        {"media_id": media_id, "frame_idx": idx, "frame_hash": fh}
                    )
            yield pd.DataFrame(recs, columns=[f.name for f in FRAME_SCHEMA])

    return (
        media.filter(F.col("kind") == "video")
        .select("media_id", "data")
        .mapInPandas(batches, FRAME_SCHEMA)
    )


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("clip_rate", T.DoubleType(), True),
        T.StructField("byte_len", T.IntegerType(), True),
    ]
)


def wav_features(media: DataFrame) -> DataFrame:
    """PCM WAV feature extraction — the audio sibling of
    ``extract_features`` and the second REAL codec next to
    ``png_decoder`` (stdlib ``wave`` parses the container, numpy does
    the sample math; no audio library needed, so this path runs even
    in the hermetic container). Per clip: sample rate, channel count,
    sample count, duration, RMS level, and clip rate (fraction of
    samples within 8 LSB of full scale — the go/no-go signal an audio
    ingest gate checks before transcription). 16-bit PCM only (what
    ``wave`` itself writes); anything else raises rather than
    silently mis-scaling.

    Same scale shape as every decode kernel here: Arrow-batched
    ``mapInPandas``, scan → decode → project, the binary column does
    not survive into the output, no shuffle — throughput scales with
    executors. Amplitudes are normalized by 32768 and the two rates
    are exact ratios of integer counts, so results are deterministic
    and engine-independent."""

    # mixed-media tables: only audio rows reach the WAV parser (the
    # extract_features kind-routing contract; a PNG byte stream would
    # otherwise crash wave.open for the whole batch)
    if "kind" in media.columns:
        media = media.filter(F.col("kind") == "audio")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        import numpy as np

        for pdf in it:
            recs = []
            for media_id, data in zip(pdf["media_id"], pdf["data"]):
                raw = bytes(data)
                with wave.open(io.BytesIO(raw)) as w:
                    sr = w.getframerate()
                    ch = w.getnchannels()
                    nf = w.getnframes()
                    if w.getsampwidth() != 2:
                        raise ValueError(
                            "wav_features supports 16-bit PCM only, got "
                            f"sample width {w.getsampwidth()}"
                        )
                    frames = w.readframes(nf)
                x = np.frombuffer(frames, dtype="<i2")
                n = int(x.size)
                if n:
                    xf = x.astype(np.float64) / 32768.0
                    rms = float(np.sqrt(np.mean(xf * xf)))
                    # No np.abs on int16: abs(-32768) overflows back to
                    # -32768 and full-scale negative (hard-clipped)
                    # samples would never be counted.
                    clip = float(
                        np.count_nonzero((x >= 32760) | (x <= -32760)) / n
                    )
                else:
                    rms, clip = 0.0, 0.0
                recs.append(
                    {
                        "media_id": media_id,
                        "sample_rate": sr,
                        "n_channels": ch,
                        "n_samples": n,
                        "duration_s": (nf / sr) if sr else 0.0,
                        "rms": rms,
                        "clip_rate": clip,
                        "byte_len": len(raw),
                    }
                )
            yield pd.DataFrame(
                recs, columns=[f.name for f in AUDIO_FEATURES_SCHEMA]
            )

    return media.select("media_id", "data").mapInPandas(
        batches, AUDIO_FEATURES_SCHEMA
    )
