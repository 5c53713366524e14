"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
metadata struct; decode / feature-extraction runs as Arrow-batched
``mapInPandas`` so the heavy per-item work is amortized per batch and
never crosses the driver.

Decode is real on three levels: dependency-free BMP/PNG codecs (below,
always available), a PIL branch for every other image format and a PyAV
branch for video frames (both implemented, import-gated — the libraries
are not in this image, so their pytests skip when absent), and the
deterministic fallback featurizer (byte histogram) that keeps the
Spark-side plumbing — schema, partitioning, UDF signature, batch shape —
testable with zero optional dependencies.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("features", T.ArrayType(T.DoubleType()), False),
    ]
)


def _decode_image(payload: bytes):
    """Decode a non-BMP/PNG payload via PIL when the library is present
    (the real path: open -> force RGB -> ndarray); without PIL the only
    real decoders are the dependency-free BMP/PNG codecs below. Env-gated
    pytest: tests/test_operators.py::test_decode_image_pil_fallback."""
    try:
        from PIL import Image
    except ImportError as exc:
        raise NotImplementedError(
            "non-BMP/PNG image decode requires PIL; not available in this "
            "image — decode_bmp24/decode_png handle BMP and PNG natively"
        ) from exc
    from io import BytesIO

    import numpy as np

    with Image.open(BytesIO(payload)) as im:
        return np.asarray(im.convert("RGB"), dtype=np.uint8)


# ---- real, dependency-free image codec (24-bit uncompressed BMP) --------
#
# The container ships no PIL/ffmpeg, but a 24-bit BI_RGB BMP needs only
# struct + numpy — so the decode stage of the image pipeline is REAL for
# BMP payloads (header parse, bottom-up row order, 4-byte row padding,
# BGR channel order), with the env-gated PIL branch kept for other
# formats.

_BMP_HEADER = 54  # BITMAPFILEHEADER (14) + BITMAPINFOHEADER (40)


def encode_bmp24(pixels) -> bytes:
    """(h, w, 3) uint8 RGB array -> 24-bit uncompressed BMP bytes
    (bottom-up rows, BGR on disk, rows padded to 4 bytes)."""
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    img_size = stride * h
    header = struct.pack(
        "<2sIHHIIiiHHIIiiII",
        b"BM", _BMP_HEADER + img_size, 0, 0, _BMP_HEADER,
        40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0,
    )
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # flip rows, RGB->BGR
    return header + rows.tobytes()


def decode_bmp24(payload: bytes):
    """BMP bytes -> (h, w, 3) uint8 RGB array. Real decoder for 24-bit
    BI_RGB (uncompressed) BMPs; anything else routes to the env-gated
    PIL branch."""
    import struct

    import numpy as np

    if len(payload) < _BMP_HEADER or payload[:2] != b"BM":
        return _decode_image(payload)
    pix_off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        return _decode_image(payload)
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    data = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=pix_off)
    rows = data.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


# ---- real, dependency-free PNG codec (8-bit RGB, stdlib zlib) -----------
#
# Same discipline as the BMP path: the container ships no PIL, but a
# non-interlaced 8-bit truecolor PNG needs only struct + zlib + numpy.
# The encoder emits filter-0 scanlines; the decoder is spec-complete for
# all five filter types (None/Sub/Up/Average/Paeth, RFC 2083 §6) so it
# reads PNGs from ANY conforming encoder, not just its own twin — pinned
# by a by-hand spec test exactly like decode_bmp24.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(pixels) -> bytes:
    """(h, w, 3) uint8 RGB array -> non-interlaced 8-bit truecolor PNG
    bytes (filter 0 scanlines, one zlib IDAT)."""
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def decode_png(payload: bytes):
    """PNG bytes -> (h, w, 3) uint8 RGB array. Real decoder for
    non-interlaced 8-bit truecolor (color type 2) with all five scanline
    filters; anything else routes to the env-gated PIL branch."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_SIG:
        return _decode_image(payload)
    pos, w, h, idat = 8, None, None, []
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # length + tag + data + crc
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or ctype != 2 or comp or filt or interlace:
                return _decode_image(payload)
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
    if w is None or not idat:
        return _decode_image(payload)
    raw = zlib.decompress(b"".join(idat))
    bpp, stride = 3, w * 3
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    rpos = 0
    for y in range(h):
        f = raw[rpos]
        row = np.frombuffer(raw, np.uint8, stride, rpos + 1).astype(np.int64)
        rpos += 1 + stride
        if f == 0:
            cur = row
        elif f == 1:  # Sub: left neighbor (sequential in x)
            cur = row
            for x in range(bpp, stride):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif f == 2:  # Up: vectorized over the row
            cur = (row + prev) & 0xFF
        elif f == 3:  # Average
            cur = row
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + (left + prev[x]) // 2) & 0xFF
        elif f == 4:  # Paeth
            cur = row
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            return _decode_image(payload)
        out[y] = cur
        prev = cur
    return out.reshape(h, w, 3)


def decode_image(payload: bytes):
    """Magic-byte dispatch: BMP and PNG decode natively (real codecs
    above); every other format routes to the env-gated PIL branch."""
    if payload[:2] == b"BM":
        return decode_bmp24(payload)
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    return _decode_image(payload)


IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("mean_r", T.DoubleType(), False),
        T.StructField("mean_g", T.DoubleType(), False),
        T.StructField("mean_b", T.DoubleType(), False),
        T.StructField("luma_std", T.DoubleType(), False),
    ]
)


def image_pixel_features(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """(id, payload binary) -> per-image PIXEL features via the real
    BMP/PNG decoders (magic-byte dispatch): dimensions, per-channel
    means, luminance std (population). Arrow-batched mapInPandas —
    decode cost amortizes per batch and the binary payloads never cross
    the driver."""
    src = df.select(F.col(id_col).alias("id"), F.col(payload_col).alias("payload"))

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for i, payload in zip(pdf["id"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else b""
                px = decode_image(payload).astype(np.float64)
                h, w, _ = px.shape
                luma = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
                rows.append(
                    (
                        int(i), len(payload), w, h,
                        round(float(px[:, :, 0].mean()), 6),
                        round(float(px[:, :, 1].mean()), 6),
                        round(float(px[:, :, 2].mean()), 6),
                        round(float(luma.std()), 6),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "n_bytes", "width", "height",
                    "mean_r", "mean_g", "mean_b", "luma_std",
                ],
            )

    return src.mapInPandas(featurize, schema=IMAGE_FEATURE_SCHEMA)


def byte_histogram(payload: bytes, bins: int = 16) -> list[float]:
    """Deterministic fake 'feature extraction': normalized byte histogram."""
    import numpy as np

    if not payload:
        return [0.0] * bins
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr >> 4, minlength=bins).astype("float64")
    return (hist / hist.sum()).tolist()


def extract_features(
    df: DataFrame, id_col: str, payload_col: str, bins: int = 16
) -> DataFrame:
    """(id, payload binary) -> (id, n_bytes, features array<double>)."""
    src = df.select(F.col(id_col).alias("id"), F.col(payload_col).alias("payload"))

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) if p is not None else b"" for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "id": pdf["id"].astype("int64"),
                    "n_bytes": [len(p) for p in payloads],
                    "features": [byte_histogram(p, bins) for p in payloads],
                }
            )

    return src.mapInPandas(featurize, schema=FEATURE_SCHEMA)


def text_pixels(text: str | None, width: int = 16, height: int = 16):
    """Deterministic (h, w, 3) uint8 pixel array from a document's UTF-8
    bytes (truncated / zero-padded) — the no-external-data image source
    both the Spark query and the sequential oracle derive from."""
    import numpy as np

    n = width * height * 3
    b = (text or "").encode("utf-8")[:n]
    arr = np.zeros(n, dtype=np.uint8)
    arr[: len(b)] = np.frombuffer(b, dtype=np.uint8)
    return arr.reshape(height, width, 3)


def text_to_image_udf(width: int = 16, height: int = 16):
    """pandas UDF: (id, text) -> real image payload bytes, alternating
    container by id parity (even -> BMP, odd -> PNG) so one column
    carries a mixed-format image corpus and the decode side must
    dispatch on magic bytes — the shape of a real crawl's image column."""

    @F.pandas_udf(T.BinaryType())
    def to_img(ids: pd.Series, texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                (encode_bmp24 if int(i) % 2 == 0 else encode_png)(
                    text_pixels(t, width, height)
                )
                for i, t in zip(ids, texts)
            ]
        )

    return to_img


# ---- typed media metadata + frame sampling + resize ---------------------

# the metadata struct that rides next to every opaque payload column
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("codec", T.StringType(), True),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("ts_ms", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), False),
    ]
)

THUMB_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("thumb", T.BinaryType(), False),
    ]
)


def _decode_video_frame(payload: bytes, ts_ms: int):
    """Decode the video frame nearest ``ts_ms`` via PyAV when the ffmpeg
    bindings are present (seek to the keyframe at/before the timestamp,
    then decode forward to the first frame at >= ts_ms); without PyAV the
    deterministic byte-slice stand-in in ``frame_sample`` is the tested
    path. Returns an (h, w, 3) uint8 RGB array or None when the stream
    ends before the timestamp."""
    try:
        import av
    except ImportError as exc:
        raise NotImplementedError(
            "video decode requires ffmpeg bindings (PyAV); not in this "
            "image — the deterministic byte-slice stand-in keeps the "
            "plumbing testable"
        ) from exc
    from io import BytesIO

    with av.open(BytesIO(payload)) as container:
        stream = container.streams.video[0]
        target = int(ts_ms / 1000 / stream.time_base)
        container.seek(target, stream=stream, backward=True)
        for frame in container.decode(stream):
            if frame.pts is not None and frame.pts >= target:
                return frame.to_ndarray(format="rgb24")
    return None


def frame_sample(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    meta_col: str,
    every_ms: int = 1000,
) -> DataFrame:
    """(id, payload, meta) -> one row per sampled frame.

    The row-EXPLODING UDF batch shape of a video pipeline: input rows
    are few and heavy, output rows are many and light, so the generator
    yields per input batch without ever materializing all frames of a
    batch in one DataFrame. The frame 'decode' is the deterministic
    byte-slice stand-in (the real ffmpeg seek is env-gated above);
    timestamps come from the typed metadata, so the sampling logic —
    the part that IS Spark's concern — is real and tested.
    """
    src = df.select(
        F.col(id_col).alias("id"),
        F.col(payload_col).alias("payload"),
        F.col(meta_col + ".duration_ms").alias("duration_ms"),
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tss, frames = [], [], [], []
            for i, payload, dur in zip(
                pdf["id"], pdf["payload"], pdf["duration_ms"]
            ):
                if payload is None or dur is None or dur <= 0:
                    continue
                payload = bytes(payload)
                n_frames = max(int(dur) // every_ms, 1)
                step = max(len(payload) // n_frames, 1)
                for k in range(n_frames):
                    ids.append(i)
                    idxs.append(k)
                    tss.append(k * every_ms)
                    frames.append(payload[k * step : (k + 1) * step])
            yield pd.DataFrame(
                {"id": ids, "frame_idx": idxs, "ts_ms": tss, "frame": frames}
            )

    return src.mapInPandas(sample, schema=FRAME_SCHEMA)


def resize_images(
    df: DataFrame, id_col: str, payload_col: str, width: int = 32, height: int = 32
) -> DataFrame:
    """(id, payload) -> (id, width, height, thumb): the image-resize
    stage. Real path (PIL thumbnail) is env-gated via ``_decode_image``;
    the stand-in emits a deterministic fixed-size byte grid sampled
    from the payload so downstream schema/size contracts are exact."""
    src = df.select(F.col(id_col).alias("id"), F.col(payload_col).alias("payload"))
    n_out = width * height

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, thumbs = [], []
            for i, payload in zip(pdf["id"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else b""
                if payload:
                    arr = np.frombuffer(payload, dtype=np.uint8)
                    pos = np.linspace(0, len(arr) - 1, n_out).astype(np.int64)
                    thumb = arr[pos].tobytes()
                else:
                    thumb = b"\x00" * n_out
                ids.append(i)
                thumbs.append(thumb)
            yield pd.DataFrame(
                {
                    "id": ids,
                    "width": width,
                    "height": height,
                    "thumb": thumbs,
                }
            )

    return src.mapInPandas(resize, schema=THUMB_SCHEMA)
