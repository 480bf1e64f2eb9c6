"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested — schemas, Arrow batch shapes,
``mapInPandas`` UDF signatures, partitioning by media type/size — and so is
the codec path for the formats decodable without external libraries:

* **images**: BMP (24-bit uncompressed) and PPM/PGM decode + encode in pure
  numpy; features are a real 8×8 block-mean grayscale thumbnail (64-dim).
* **audio**: WAV via the stdlib ``wave`` module; features are 64 equal-width
  FFT-magnitude bands.
* **resize**: nearest-neighbor + block-mean downsample, vectorized.

* **video**: Y4M (YUV4MPEG2) streams decode + frame-sample in pure numpy
  (mono/420/422/444 luma); features are the mean per-frame thumbnail.

JPEG/PNG decode (Pillow, dispatched at runtime when importable) and
COMPRESSED-video demux (ffmpeg/pyav) are the remaining declared
``NotImplementedError`` stubs, with a deterministic content-hash fake for
plumbing tests — swapping in the codec lib changes one dispatch branch,
none of the distributed plumbing.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

#: canonical multimodal schema: opaque payload + typed metadata
MEDIA_SCHEMA_DDL = (
    "media_id string, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, duration_ms:int, "
    "codec:string>"
)

FEATURE_DIM = 64


def _fake_feature(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in for a real feature extractor: seeded by the
    payload's content hash, so tests are exact and repeatable.  REPLACE with
    a real model/codec when the media libs are available."""
    import zlib

    rng = np.random.default_rng(zlib.crc32(payload))
    return rng.standard_normal(dim).astype(np.float32)


# --- real codecs (no external libs) ----------------------------------------


def encode_bmp(arr: np.ndarray) -> bytes:
    """HxWx3 uint8 (RGB) → 24-bit uncompressed BMP bytes."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    row_bytes = (w * 3 + 3) & ~3
    img_size = row_bytes * h
    header = (
        b"BM"
        + (54 + img_size).to_bytes(4, "little")
        + b"\x00\x00\x00\x00" + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + int(w).to_bytes(4, "little") + int(h).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + img_size.to_bytes(4, "little")
        + b"\x00" * 16
    )
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    return header + rows.tobytes()


def _decode_bmp(payload: bytes) -> np.ndarray:
    off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or comp != 0:
        raise NotImplementedError(f"only 24-bit uncompressed BMP (got bpp={bpp})")
    flip = h > 0
    h = abs(h)
    row_bytes = (w * 3 + 3) & ~3
    rows = np.frombuffer(payload, dtype=np.uint8, count=row_bytes * h, offset=off)
    px = rows.reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]
    return px[::-1] if flip else px


def _decode_pnm(payload: bytes) -> np.ndarray:
    """P6 (RGB) / P5 (gray) binary netpbm."""
    parts: list[bytes] = []
    i = 2
    while len(parts) < 3:  # width, height, maxval
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":  # comment to end of line
            i = payload.index(b"\n", i) + 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        if j >= len(payload) or j == i:
            # a corrupt row must raise, never spin an executor task forever
            raise ValueError("truncated netpbm header")
        parts.append(payload[i:j])
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = (int(p) for p in parts)
    if maxval > 255:
        raise NotImplementedError("16-bit netpbm not supported")
    c = 3 if payload[:2] == b"P6" else 1
    px = np.frombuffer(payload, dtype=np.uint8, count=w * h * c, offset=i)
    return px.reshape(h, w, c)


def decode_image(payload: bytes, meta: dict | None = None) -> np.ndarray:
    """binary → HxWxC uint8.  Real for BMP and PPM/PGM natively; JPEG/PNG
    (and anything else Pillow knows) decode through Pillow when it is
    importable at runtime — the declared stub only remains for environments
    without any codec library (like this container)."""
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:2] in (b"P6", b"P5"):
        return _decode_pnm(payload)
    try:
        from PIL import Image
    except ImportError:
        raise NotImplementedError(
            "JPEG/PNG decode requires an image codec library "
            "(Pillow/libjpeg) not importable in this environment; BMP and "
            "PPM/PGM decode natively"
        ) from None
    import io

    return np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))


def decode_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → (int16 samples [n, channels], sample_rate) via stdlib."""
    import io
    import wave

    with wave.open(io.BytesIO(payload)) as wf:
        if wf.getsampwidth() != 2:
            raise NotImplementedError("only 16-bit PCM WAV")
        data = np.frombuffer(wf.readframes(wf.getnframes()), dtype=np.int16)
        return data.reshape(-1, wf.getnchannels()), wf.getframerate()


def resize_image(arr: np.ndarray, size: tuple[int, int]) -> np.ndarray:
    """Nearest-neighbor resize to (h, w) — vectorized index gather."""
    h, w = size
    ri = (np.arange(h) * arr.shape[0]) // h
    ci = (np.arange(w) * arr.shape[1]) // w
    return arr[ri][:, ci]


def image_feature(arr: np.ndarray, grid: int = 8) -> np.ndarray:
    """Real 64-dim feature: ``grid×grid`` block-mean grayscale thumbnail,
    scaled to [0, 1] — the classic near-dup image fingerprint."""
    gray = arr.astype(np.float32).mean(axis=2) if arr.ndim == 3 else arr.astype(np.float32)
    if gray.shape[0] == 0 or gray.shape[1] == 0:
        # a structurally valid 0xN image (netpbm/BMP allow it) would raise
        # an opaque IndexError inside resize — fail like a decode error
        raise ValueError("empty image (zero height or width)")
    if gray.shape[0] < grid or gray.shape[1] < grid:
        # tiny images: upsample first — duplicate reduceat indices would
        # otherwise divide block sums by zero cell counts (inf/NaN features)
        gray = resize_image(
            gray, (max(grid, gray.shape[0]), max(grid, gray.shape[1]))
        )
    rb = (np.arange(grid) * gray.shape[0]) // grid
    cb = (np.arange(grid) * gray.shape[1]) // grid
    cells = np.add.reduceat(np.add.reduceat(gray, rb, axis=0), cb, axis=1)
    counts = np.outer(np.diff(np.append(rb, gray.shape[0])),
                      np.diff(np.append(cb, gray.shape[1])))
    return (cells / counts / 255.0).astype(np.float32).ravel()


def audio_feature(payload: bytes, bands: int = FEATURE_DIM) -> np.ndarray:
    """Real 64-dim feature: mean |rfft| over ``bands`` equal-width bands of
    the first channel, L2-normalized."""
    samples, _ = decode_audio(payload)
    x = samples[:, 0].astype(np.float32)
    if len(x) == 0:  # structurally valid zero-frame WAV
        return np.zeros(bands, dtype=np.float32)
    mag = np.abs(np.fft.rfft(x))
    edges = (np.arange(bands) * len(mag)) // bands
    e = np.add.reduceat(mag, edges) / np.maximum(np.diff(np.append(edges, len(mag))), 1)
    norm = float(np.linalg.norm(e))
    return (e / norm if norm > 0 else e).astype(np.float32)


# --- video: Y4M (YUV4MPEG2) in pure numpy -----------------------------------

_Y4M_FRAME_FACTOR = {  # colorspace → frame bytes as a multiple of w*h (×2)
    b"mono": 2, b"420": 3, b"420jpeg": 3, b"420mpeg2": 3, b"420paldv": 3,
    b"422": 4, b"444": 6,
}


def _parse_y4m_header(payload: bytes) -> tuple[int, int, tuple[int, int], bytes, int]:
    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    end = payload.index(b"\n")
    toks = payload[:end].split(b" ")
    w = h = None
    fn, fd = 25, 1
    cs = b"420"
    for t in toks[1:]:
        tag, val = t[:1], t[1:]
        if tag == b"W":
            w = int(val)
        elif tag == b"H":
            h = int(val)
        elif tag == b"F":
            fn, fd = (int(x) for x in val.split(b":"))
        elif tag == b"C":
            cs = val
    if not w or not h:
        raise ValueError("Y4M header missing W/H")
    if cs not in _Y4M_FRAME_FACTOR:
        raise NotImplementedError(f"Y4M colorspace {cs!r} not supported")
    return w, h, (fn, fd), cs, end + 1


def decode_y4m(payload: bytes) -> tuple[np.ndarray, tuple[int, int]]:
    """Y4M bytes → (luma frames ``[n, h, w]`` uint8, (fps_num, fps_den)).

    Pure numpy: parse the plain-text stream header, stride frame-by-frame
    (each ``FRAME\\n`` marker + planar YUV payload sized by the colorspace),
    and view the Y plane zero-copy.  Chroma planes are skipped — features
    use luma, the standard near-dup fingerprint basis.  Compressed video
    (mp4/h264 etc.) still needs ffmpeg/pyav and stays a declared stub in
    :func:`sample_frames`."""
    w, h, fps, cs, pos = _parse_y4m_header(payload)
    fsize = w * h * _Y4M_FRAME_FACTOR[cs] // 2
    frames = []
    while pos < len(payload):
        nl = payload.index(b"\n", pos)
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        pos = nl + 1
        if pos + fsize > len(payload):
            raise ValueError("truncated Y4M frame")
        frames.append(
            np.frombuffer(payload, np.uint8, w * h, pos).reshape(h, w)
        )
        pos += fsize
    stack = np.stack(frames) if frames else np.empty((0, h, w), np.uint8)
    return stack, fps


def encode_y4m(frames: np.ndarray, fps: tuple[int, int] = (25, 1),
               colorspace: bytes = b"mono") -> bytes:
    """``[n, h, w]`` uint8 luma frames → Y4M bytes (test/fixture writer, the
    analog of the reference's ORC writer fixtures).  ``mono`` writes luma
    only; ``420`` pads neutral-gray chroma planes."""
    n, h, w = frames.shape
    header = (
        b"YUV4MPEG2 W%d H%d F%d:%d Ip A1:1 C%s\n"
        % (w, h, fps[0], fps[1], colorspace)
    )
    chroma = b""
    if colorspace != b"mono":
        if not colorspace.startswith(b"420"):
            # 422/444 chroma planes are differently sized — writing the
            # 420-sized padding would produce a stream decode rejects
            raise NotImplementedError("encode supports mono and 420 flavors")
        chroma = b"\x80" * ((w // 2) * (h // 2) * 2)
    out = [header]
    for f in frames:
        out.append(b"FRAME\n")
        out.append(f.astype(np.uint8, copy=False).tobytes())
        out.append(chroma)
    return b"".join(out)


def sample_frames(payload: bytes, meta: dict | None = None,
                  every_ms: int = 1000) -> list[np.ndarray]:
    """Video frame sampling: one luma frame every ``every_ms``.

    REAL for Y4M/raw streams (pure numpy, :func:`decode_y4m`); compressed
    containers (mp4/h264/vp9) need ffmpeg/pyav — not importable in this
    container — and remain a declared stub, same policy as JPEG/PNG."""
    if payload[:9] == b"YUV4MPEG2":
        frames, (fn, fd) = decode_y4m(payload)
        if not len(frames):
            return []
        step = max(1, round(every_ms * fn / (1000 * fd)))
        return list(frames[::step])
    raise NotImplementedError(
        "compressed-video frame sampling requires ffmpeg/pyav; Y4M/raw "
        "streams decode natively"
    )


def video_feature(payload: bytes, every_ms: int = 1000,
                  grid: int = 8) -> np.ndarray:
    """Real 64-dim video feature: mean of the per-frame block-mean
    thumbnails (:func:`image_feature`) over the sampled frames."""
    frames = sample_frames(payload, every_ms=every_ms)
    if not frames:
        return np.zeros(grid * grid, dtype=np.float32)
    feats = np.stack([image_feature(f, grid) for f in frames])
    return feats.mean(axis=0).astype(np.float32)


def extract_features(
    df: DataFrame, dim: int = FEATURE_DIM, batch_limit: int = 256,
    fake: bool = True,
) -> DataFrame:
    """Distributed feature extraction over binary payloads via mapInPandas.

    Real at scale: Arrow-batched binary transfer, bounded batch sizes (media
    payloads are large — ``batch_limit`` rows per pandas batch keeps executor
    memory flat), output is a fixed-dim float array per row.
    """

    def real_feature(kind: str, payload: bytes) -> list[float]:
        if kind == "image":
            return image_feature(decode_image(payload)).tolist()
        if kind == "audio":
            return audio_feature(payload, dim).tolist()
        if kind == "video":
            return video_feature(payload).tolist()
        raise NotImplementedError(f"no real extractor for kind={kind}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), batch_limit):
                piece = pdf.iloc[lo : lo + batch_limit]
                if fake:
                    feats = [
                        _fake_feature(p, dim).tolist() for p in piece["payload"]
                    ]
                else:
                    feats = [
                        real_feature(k, p)
                        for k, p in zip(piece["kind"], piece["payload"])
                    ]
                yield pd.DataFrame(
                    {
                        "media_id": piece["media_id"].values,
                        "kind": piece["kind"].values,
                        "feature": feats,
                    }
                )

    return df.mapInPandas(run, "media_id string, kind string, feature array<float>")


def media_partition_plan(df: DataFrame, bytes_per_task: int = 256 << 20) -> DataFrame:
    """Partition media rows by (kind, size-bucket) so one task never holds a
    pathological mix of 4 GB videos — same explicit-skew philosophy as the
    token-table encode plan (pipeline/encode.py:_rowgroup_plan)."""
    size = F.octet_length("payload")
    bucket = F.floor(F.log2(F.greatest(size, F.lit(1)))).cast("int")
    return df.withColumn("size_bucket", bucket).repartition(
        "kind", "size_bucket"
    )


def real_media_table(spark, n_rows: int = 32, seed: int = 42) -> DataFrame:
    """Deterministic media rows with REAL payloads: BMP images + WAV audio
    — the non-fake codec path's test/benchmark input."""
    import io
    import wave

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_rows):
        if i % 4 == 3:  # video: real Y4M streams (round 4)
            h, w = int(rng.integers(8, 32)) * 2, int(rng.integers(8, 32)) * 2
            nf = int(rng.integers(3, 12))
            frames = rng.integers(0, 256, (nf, h, w), dtype=np.uint8)
            cs = b"mono" if i % 8 == 3 else b"420"
            rows.append(
                (f"m-{i:06d}", "video",
                 bytearray(encode_y4m(frames, (10, 1), cs)),
                 (w, h, None, 100 * nf, "y4m"))
            )
        elif i % 2 == 0:
            h, w = int(rng.integers(8, 48)), int(rng.integers(8, 48))
            arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            rows.append(
                (f"m-{i:06d}", "image", bytearray(encode_bmp(arr)),
                 (w, h, None, None, "bmp"))
            )
        else:
            sr, n = 8000, int(rng.integers(400, 4000))
            samples = (
                np.sin(np.arange(n) * (float(rng.uniform(0.05, 0.5)))) * 12000
            ).astype(np.int16)
            buf = io.BytesIO()
            with wave.open(buf, "wb") as wf:
                wf.setnchannels(1)
                wf.setsampwidth(2)
                wf.setframerate(sr)
                wf.writeframes(samples.tobytes())
            rows.append(
                (f"m-{i:06d}", "audio", bytearray(buf.getvalue()),
                 (None, None, sr, 1000 * n // sr, "pcm16"))
            )
    return spark.createDataFrame(rows, MEDIA_SCHEMA_DDL)


def fake_media_table(spark, n_rows: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media rows for plumbing tests."""
    rng = np.random.default_rng(seed)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n_rows):
        kind = kinds[i % 3]
        payload = rng.bytes(rng.integers(128, 4096))
        rows.append(
            (
                f"m-{i:06d}", kind, bytearray(payload),
                (256, 256, 16_000, 1_000, "fake"),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA_DDL)
