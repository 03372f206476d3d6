"""Multimodal column plumbing — binary payloads with typed metadata.

Extension surface: a training-data pipeline carries images / audio /
video as opaque ``binary`` columns plus a typed metadata struct, and
runs decode / feature-extraction / frame-sampling as Arrow-batched
Python over ``mapInPandas``. The real media codecs (PIL, ffmpeg,
torchaudio) are not in this environment, so the *decode* step is
pluggable: callers pass a decoder, and the default is a clearly
marked deterministic fake (see ``fake_decode``) — but everything
Spark-side is real and tested: the schema contract, the Arrow batch
shapes, the partition-preserving execution, and the byte-level
feature extraction (numpy over the raw payload).

Scale notes: ``mapInPandas`` is the sanctioned shape for this —
Arrow transfer, vectorized per batch, no per-row Python. Payloads
stay in the executors; nothing collects. Feature extraction emits
fixed-width rows, so downstream is ordinary columnar work.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def attach_payload_metadata(df: DataFrame, payload_col: str, modality: str, fmt: str) -> DataFrame:
    """Add the typed metadata struct for an opaque binary column."""
    return df.withColumn(
        "meta",
        F.struct(
            F.lit(modality).alias("modality"),
            F.lit(fmt).alias("format"),
            F.length(F.col(payload_col)).cast("long").alias("n_bytes"),
        ),
    )


def byte_features(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Byte-level feature extraction over Arrow batches: length,
    exact integer byte sum (order-independent → reproducible), mean
    byte (int sum / n, so bit-stable), max byte. Real numpy over the
    raw payload — the shape every real extractor (embedding model,
    EXIF parser, spectrogram) plugs into."""
    import numpy as np
    import pandas as pd

    out_schema = f"{id_col} long, n_bytes long, byte_sum long, mean_byte double, max_byte long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                a = np.frombuffer(payload, dtype=np.uint8)
                s = int(a.sum())
                rows.append((int(i), len(a), s, s / len(a) if len(a) else 0.0, int(a.max()) if len(a) else 0))
            yield pd.DataFrame(rows, columns=[id_col, "n_bytes", "byte_sum", "mean_byte", "max_byte"])

    return df.mapInPandas(run, schema=out_schema)


def fake_decode(payload: bytes) -> dict[str, Any]:
    """Deterministic FAKE decoder standing in for PIL/ffmpeg (not
    available in this environment): derives a plausible (width,
    height) from the payload length and returns the byte grid. A real
    deployment passes a real decoder to ``decode_payloads`` —
    same signature, same Spark plumbing."""
    n = len(payload)
    width = max(int(n**0.5), 1)
    height = max(n // width, 1)
    return {"width": width, "height": height, "pixels": payload[: width * height]}


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def png_decode(payload: bytes) -> dict[str, Any]:
    """REAL stdlib-only PNG decoder for the 8-bit greyscale,
    filter-0 subset: parses the IHDR chunk for (width, height),
    concatenates and inflates the IDAT chunks, strips the per-row
    filter bytes, and returns the pixel grid. Anything outside the
    subset (palette, RGB, interlace, nonzero row filters) raises —
    ``decode_payloads`` maps that to the (-1, -1, 0) corrupt-row
    convention. Closes the round-3 'stubbed codec' gap without
    external libs; a PIL/ffmpeg deployment plugs in via
    :func:`auto_decode` with identical plumbing."""
    import struct
    import zlib

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos, width, height, idat = 8, None, None, b""
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # length + type + data + CRC
        if typ == b"IHDR":
            width, height, depth, ctype = struct.unpack(">IIBB", data[:10])
            if depth != 8 or ctype != 0:
                raise ValueError("unsupported PNG subset (need 8-bit greyscale)")
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if width is None or height is None:
        raise ValueError("no IHDR chunk")
    raw = zlib.decompress(idat)
    stride = width + 1  # leading filter byte per scanline
    if len(raw) != stride * height:
        raise ValueError("IDAT size mismatch")
    pixels = bytearray()
    for r in range(height):
        row = raw[r * stride : (r + 1) * stride]
        if row[0] != 0:
            raise ValueError("unsupported row filter")
        pixels += row[1:]
    return {"width": width, "height": height, "pixels": bytes(pixels)}


def png_encode_gray(pixels: bytes, width: int, height: int) -> bytes:
    """Synthesize a REAL, spec-valid 8-bit greyscale PNG (signature,
    IHDR, filter-0 IDAT, IEND, correct CRCs) — the payload builder
    the driver-gated decode query uses to put real codec bytes
    through the Arrow plumbing. Stdlib-only, deterministic."""
    import struct
    import zlib

    if len(pixels) != width * height:
        raise ValueError("pixels length != width*height")

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes(pixels[r * width : (r + 1) * width])
        for r in range(height)
    )
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def pil_decode(payload: bytes) -> dict[str, Any]:  # pragma: no cover — PIL absent here
    """Full-format image decode via PIL, when the library is
    installed (it is not in this container — auto_decode falls back
    to :func:`png_decode` / :func:`fake_decode`)."""
    import io

    from PIL import Image

    img = Image.open(io.BytesIO(payload))
    return {"width": img.width, "height": img.height, "pixels": img.tobytes()}


_JPEG_MAGIC = b"\xff\xd8"


def auto_decode(payload: bytes) -> dict[str, Any]:
    """Best-available decoder: PIL for any image format when
    importable; the stdlib PNG-subset / baseline-JPEG decoders for
    PNG/JPEG payloads otherwise; the deterministic fake for
    everything else (so non-image payloads keep flowing through the
    same plumbing)."""
    head = bytes(payload[:8])
    if head == _PNG_MAGIC:
        try:
            return pil_decode(payload)
        except ImportError:
            return png_decode(payload)
    if head[:2] == _JPEG_MAGIC:
        try:
            return pil_decode(payload)
        except ImportError:
            from .jpeg import jpeg_decode

            return jpeg_decode(payload)
    return fake_decode(payload)


def decode_payloads(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    decoder: Callable[[bytes], dict[str, Any]] = fake_decode,
) -> DataFrame:
    """Decode binary payloads via an Arrow-batched ``mapInPandas``.
    Output: id, width, height, n_pixels. Decode failures yield
    (-1, -1, 0) rather than failing the job — at 100 TB some corrupt
    payloads are a certainty."""
    import pandas as pd

    out_schema = f"{id_col} long, width int, height int, n_pixels long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    d = decoder(bytes(payload))
                    rows.append((int(i), d["width"], d["height"], len(d["pixels"])))
                except Exception:
                    rows.append((int(i), -1, -1, 0))
            yield pd.DataFrame(rows, columns=[id_col, "width", "height", "n_pixels"])

    return df.mapInPandas(run, schema=out_schema)


def frame_sample(
    df: DataFrame, id_col: str, payload_col: str, frame_bytes: int = 64, every: int = 4
) -> DataFrame:
    """Frame sampling for chunked (video-like) payloads: split the
    payload into fixed-size frames, keep every ``every``-th. Pure
    built-in expressions (no Python): one output row per kept frame
    with its index and bytes — the explode-shaped plumbing a video
    pipeline needs."""
    n_frames = F.ceil(F.length(F.col(payload_col)) / F.lit(frame_bytes)).cast("int")
    # empty payload → NULL index array → explode emits no rows (the
    # greatest(n-1, 0) clamp used to fabricate a phantom frame 0)
    idx = F.when(
        F.length(F.col(payload_col)) > 0, F.sequence(F.lit(0), n_frames - 1)
    )
    kept = F.filter(idx, lambda i: i % every == 0)
    return df.select(
        F.col(id_col), F.col(payload_col).alias("__p"), F.explode(kept).alias("frame_id")
    ).select(
        id_col,
        "frame_id",
        F.substring(F.col("__p"), F.col("frame_id") * frame_bytes + 1, F.lit(frame_bytes)).alias(
            "frame"
        ),
    )


def resize_pixels(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    out_w: int = 8,
    out_h: int = 8,
    decoder: Callable[[bytes], dict[str, Any]] = fake_decode,
) -> DataFrame:
    """Nearest-neighbor resize of decoded pixel grids to a fixed
    (out_w × out_h) thumbnail — the normalization step every image
    training pipeline runs before batching. Output per payload: source
    dims, target dims, exact integer sum and md5 of the resized bytes
    (both order-free → oracle-hashable). Decode/resize failures yield
    the (-1, -1) corrupt-row convention. Arrow-batched mapInPandas,
    payloads never leave the executors; a real deployment swaps the
    decoder exactly as in :func:`decode_payloads`."""
    import hashlib

    import pandas as pd

    out_schema = (
        f"{id_col} long, src_w int, src_h int, out_w int, out_h int, "
        "resized_sum long, resized_md5 string"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    d = decoder(bytes(payload))
                    w, h, px = d["width"], d["height"], d["pixels"]
                    if len(px) < w * h:
                        raise ValueError("short pixel buffer")
                    out = bytes(
                        px[(r * h // out_h) * w + (c * w // out_w)]
                        for r in range(out_h)
                        for c in range(out_w)
                    )
                    rows.append(
                        (
                            int(i),
                            w,
                            h,
                            out_w,
                            out_h,
                            int(sum(out)),
                            hashlib.md5(out).hexdigest(),
                        )
                    )
                except Exception:
                    rows.append((int(i), -1, -1, 0, 0, 0, None))
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col,
                    "src_w",
                    "src_h",
                    "out_w",
                    "out_h",
                    "resized_sum",
                    "resized_md5",
                ],
            )

    return df.mapInPandas(run, schema=out_schema)


def frame_energy(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    frame_bytes: int = 256,
    hop_bytes: int = 128,
) -> DataFrame:
    """Audio-style frame energy over a binary payload: overlapping
    frames of ``frame_bytes`` samples at ``hop_bytes`` hop, energy =
    sum of squared sample values (payload bytes stand in for 8-bit
    PCM — real audio decode would slot in before this, see the module
    docstring). Arrow-batched ``mapInPandas``, vectorized numpy per
    frame; integer energies, so the result is exactly mirrorable.
    Output: id, frame_id, n_samples, energy — one row per frame; the
    tail frame is short."""
    import numpy as np
    import pandas as pd

    out_schema = f"{id_col} long, frame_id long, n_samples long, energy long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                arr = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
                n = len(arr)
                f = 0
                off = 0
                while off < n:
                    frame = arr[off : off + frame_bytes]
                    rows.append((int(i), f, len(frame), int((frame * frame).sum())))
                    f += 1
                    off += hop_bytes
            yield pd.DataFrame(
                rows, columns=[id_col, "frame_id", "n_samples", "energy"]
            )

    return df.mapInPandas(run, schema=out_schema)


def dhash_bits(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    decoder: Callable[[bytes], dict[str, Any]] = fake_decode,
) -> DataFrame:
    """64-bit perceptual difference hash (dHash) per payload: decode,
    nearest-neighbor sample onto a 9×8 grid, emit bit k = 1 iff
    grid[k//8][k%8] > grid[k//8][k%8 + 1] — the standard
    horizontal-gradient fingerprint image dedup pipelines cluster on.
    Emitted as a 64-char '0'/'1' string (engine-portable; a packed
    int64 would overflow the sign bit). Arrow-batched mapInPandas,
    same decoder plug as :func:`decode_payloads`; decode failures
    yield the (-1, -1, NULL) corrupt-row convention."""
    import pandas as pd

    grid_w, grid_h = 9, 8
    out_schema = f"{id_col} long, src_w int, src_h int, phash string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    d = decoder(bytes(payload))
                    w, h, px = d["width"], d["height"], d["pixels"]
                    if len(px) < w * h:
                        raise ValueError("short pixel buffer")
                    grid = [
                        [px[(r * h // grid_h) * w + (c * w // grid_w)] for c in range(grid_w)]
                        for r in range(grid_h)
                    ]
                    bits = "".join(
                        "1" if grid[k // 8][k % 8] > grid[k // 8][k % 8 + 1] else "0"
                        for k in range(64)
                    )
                    rows.append((int(i), w, h, bits))
                except Exception:
                    rows.append((int(i), -1, -1, None))
            yield pd.DataFrame(rows, columns=[id_col, "src_w", "src_h", "phash"])

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)
