"""Multimodal (image/audio/video) column operators.

Design: media travel as opaque ``binary`` columns with a typed metadata
struct alongside (the lakehouse-standard layout for multimodal training
data). All heavy per-item work (decode, resize, feature extraction, frame
sampling) runs as Arrow-batched ``mapInPandas`` — one Python worker per
partition, zero JVM round-trips per row, linear scaling with partitions.

Codec story: three container formats need NO external library and are
implemented for real here — uncompressed PCM WAV (RIFF chunk walk,
``wav_pcm16_decode``), binary PPM / P6 (``ppm_p6_decode``), and 24-bit
uncompressed BMP (``bmp24_decode`` — second header layout, BGR order,
bottom-up rows, 4-byte row padding). The ``decode_stub=False`` paths of
``extract_audio_features`` and ``extract_image_features`` decode these
natively and compute features on the REAL samples/pixels. Compressed codecs (JPEG/MP3/H.264...) would
need external libraries that are not in this environment, so those
paths keep the documented behavior: ``decode_stub=True`` (default)
produces a deterministic digest-derived fake (the Spark-side plumbing —
schemas, batching, partition flow — is fully testable), and content a
real kernel cannot parse raises with a clear message.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from megalista_spark.zip_imports import install_stamped_zipimporter


# ------------------------------------------------- pure-Python codecs


def wav_pcm16_encode(
    samples: list[int], sample_rate: int = 16000, n_channels: int = 1
) -> bytes:
    """Minimal canonical RIFF/WAVE writer: 16-bit little-endian PCM,
    one ``fmt `` chunk + one ``data`` chunk. The fixture-side half of
    the codec (tests encode→decode round-trips through it)."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    byte_rate = sample_rate * n_channels * 2
    block_align = n_channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, byte_rate, block_align, 16
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_pcm16_decode(content: bytes) -> tuple[int, int, list[int]]:
    """Real RIFF/WAVE PCM decoder (no external library): walks the chunk
    list, validates the ``fmt `` chunk (format tag 1 = integer PCM,
    16-bit), and unpacks the ``data`` chunk to int16 samples. Returns
    (sample_rate, n_channels, samples). Raises ValueError on anything
    that is not uncompressed 16-bit PCM — honest failure, not a guess."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos, end = 12, min(len(content), 8 + struct.unpack("<I", content[4:8])[0])
    sample_rate = n_channels = bits = None
    samples: list[int] | None = None
    while pos + 8 <= end:
        cid = content[pos : pos + 4]
        (size,) = struct.unpack("<I", content[pos + 4 : pos + 8])
        chunk = content[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("fmt chunk too short")
            tag, n_channels, sample_rate, _, _, bits = struct.unpack(
                "<HHIIHH", chunk[:16]
            )
            if tag != 1 or bits != 16:
                raise ValueError(
                    f"unsupported WAV encoding (format tag {tag}, {bits}-bit); "
                    "only uncompressed 16-bit PCM is decodable without codec libs"
                )
        elif cid == b"data":
            n = size // 2
            samples = list(struct.unpack(f"<{n}h", chunk[: n * 2]))
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if sample_rate is None or samples is None:
        raise ValueError("missing fmt or data chunk")
    return sample_rate, n_channels, samples


def ppm_p6_encode(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal binary-PPM (P6, maxval 255) writer; ``rgb`` is
    width·height·3 interleaved bytes."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != width*height*3")
    return f"P6\n{width} {height}\n255\n".encode() + rgb


def ppm_p6_decode(content: bytes) -> tuple[int, int, bytes]:
    """Real binary-PPM (P6) decoder (no external library): parses the
    magic / dimensions / maxval header (whitespace + ``#`` comments per
    the netpbm spec) and returns (width, height, rgb bytes). Raises
    ValueError for non-P6 or truncated content."""
    if content[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) image")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(content) and content[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(content[start:pos]))
    pos += 1  # single whitespace after maxval, then raster
    width, height, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval} (need 255 / 8-bit)")
    need = width * height * 3
    rgb = content[pos : pos + need]
    if len(rgb) != need:
        raise ValueError("truncated PPM raster")
    return width, height, rgb

def bmp24_encode(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal canonical BMP writer: 24-bit uncompressed BI_RGB,
    BITMAPINFOHEADER, bottom-up rows, BGR byte order, rows padded to
    4-byte boundaries — the parts of the format a decoder must actually
    get right. ``rgb`` is top-down width·height·3 interleaved RGB."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != width*height*3")
    row_size = (width * 3 + 3) & ~3
    pad = b"\x00" * (row_size - width * 3)
    raster = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up storage
        for x in range(width):
            i = (y * width + x) * 3
            raster += bytes((rgb[i + 2], rgb[i + 1], rgb[i]))  # BGR
        raster += pad
    off = 14 + 40
    header = b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(raster),
        2835, 2835, 0, 0,
    )
    return header + info + bytes(raster)


def bmp24_decode(content: bytes) -> tuple[int, int, bytes]:
    """Real BMP decoder (no external library): validates the ``BM`` file
    header, reads the pixel-array offset, parses BITMAPINFOHEADER
    (planes=1, 24bpp, BI_RGB only — anything else raises, honest
    failure), and unpacks the padded BGR raster back to top-down
    interleaved RGB. Handles both bottom-up (positive height, the
    canonical form) and top-down (negative height) storage. Returns
    (width, height, rgb bytes); decode(encode(x)) == x including the
    row-padding and channel-swap paths."""
    if len(content) < 54 or content[:2] != b"BM":
        raise ValueError("not a BMP (missing BM file header)")
    (off,) = struct.unpack("<I", content[10:14])
    hdr_size, w, h, planes, bpp, comp = struct.unpack("<IiiHHI", content[14:34])
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size} (need >= 40)")
    if planes != 1 or bpp != 24 or comp != 0:
        raise ValueError(
            f"unsupported BMP encoding (planes={planes}, {bpp}bpp, "
            f"compression={comp}); only uncompressed 24-bit BI_RGB is "
            "decodable without codec libs"
        )
    if off < 14 + hdr_size or off > len(content):
        # an offset inside the headers (or past EOF) would silently
        # decode header bytes as pixels instead of failing
        raise ValueError(
            f"BMP pixel-array offset {off} out of range "
            f"(headers end at {14 + hdr_size}, file is {len(content)} bytes)"
        )
    top_down = h < 0
    height = -h if top_down else h
    if w <= 0 or height <= 0:
        raise ValueError("invalid BMP dimensions")
    row_size = (w * 3 + 3) & ~3
    need = row_size * height
    raster = content[off : off + need]
    if len(raster) != need:
        raise ValueError("truncated BMP raster")
    out = bytearray(w * height * 3)
    for ry in range(height):
        y = ry if top_down else height - 1 - ry
        base = ry * row_size
        for x in range(w):
            b, g, r = raster[base + 3 * x : base + 3 * x + 3]
            j = (y * w + x) * 3
            out[j] = r
            out[j + 1] = g
            out[j + 2] = b
    return w, height, bytes(out)


MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                ]
            ),
        ),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_sha256", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def _fake_decode_features(content: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for a real decoder+encoder: derive ``dim``
    floats from the content digest. REPLACE with e.g. PIL/torchvision when
    the libraries are available."""
    digest = hashlib.sha256(content).digest()
    return [b / 255.0 for b in digest[:dim]]


def _image_pixel_features(content: bytes, dim: int) -> list[float]:
    """REAL decode features for the library-free image containers
    (binary PPM/P6 and 24-bit BMP, sniffed by magic): per-channel mean
    (exact integer-ppm arithmetic — engine-portable) and per-channel
    max /255, then width and height — 8 values, sliced to ``dim``.
    Every number is a ratio of exact integer aggregates, so a SQL
    oracle that replays the pixel generator reproduces the floats
    bit-for-bit."""
    if content[:2] == b"P6":
        width, height, rgb = ppm_p6_decode(content)
    elif content[:2] == b"BM":
        width, height, rgb = bmp24_decode(content)
    else:
        raise ValueError(
            "unsupported image container (only binary PPM/P6 and 24-bit "
            "BMP are decodable without codec libs)"
        )
    n_pix = width * height
    feats: list[float] = []
    for ch in range(3):
        total = sum(rgb[ch::3])
        feats.append(((1_000_000 * total) // (n_pix * 255)) / 1_000_000.0)
    for ch in range(3):
        feats.append(max(rgb[ch::3]) / 255.0)
    feats.extend([float(width), float(height)])
    return feats[:dim]


def extract_image_features(
    df: DataFrame, dim: int = 8, decode_stub: bool = True
) -> DataFrame:
    """binary content → fixed-dim feature vector, Arrow-batched.

    ``decode_stub=False`` REALLY decodes: binary-PPM (P6) and 24-bit BMP
    content (sniffed by magic) are parsed by the pure-Python decoders
    above and the features are computed from actual pixels (per-channel
    mean/max + dimensions). Formats that need external codec libraries
    (JPEG/PNG...) raise ValueError from the parser — honest failure. The default stub path derives features from
    the content digest (plumbing-only mode).

    Plan shape at 100 TB: pure mapInPandas over the scan — no shuffle; the
    binary column is the read bottleneck, so partition sizing
    (spark.sql.files.maxPartitionBytes) is the tuning knob, not this
    operator.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install_stamped_zipimporter()
        decode = (
            (lambda b: _fake_decode_features(b, dim))
            if decode_stub
            else (lambda b: _image_pixel_features(b, dim))
        )
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["content"].map(lambda b: len(b) if b is not None else 0),
                    "content_sha256": pdf["content"].map(
                        lambda b: hashlib.sha256(b).hexdigest() if b is not None else None
                    ),
                    "feature": pdf["content"].map(
                        lambda b: decode(b) if b is not None else None
                    ),
                }
            )
            yield out

    return df.select("media_id", "content").mapInPandas(kernel, IMAGE_FEATURES_SCHEMA)


FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("frame_sha256", T.StringType()),
    ]
)


def sample_video_frames(
    df: DataFrame, every_n: int = 10, decode_stub: bool = True
) -> DataFrame:
    """video binary → sampled frame records (one row per sampled frame).

    Stubbed decode derives a deterministic per-frame digest from
    (content, frame_index); a real implementation would demux with e.g.
    PyAV and hash the decoded frame. The explode happens inside the Python
    kernel, so output row count is decoupled from input row count —
    exactly how a real frame sampler behaves.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install_stamped_zipimporter()
        for pdf in batches:
            if not decode_stub:
                raise NotImplementedError("video codec not available in this environment")
            ids, idxs, hashes = [], [], []
            for media_id, content, duration in zip(
                pdf["media_id"], pdf["content"], pdf["duration_ms"]
            ):
                if content is None or duration is None or pd.isna(duration) or duration <= 0:
                    continue  # not a timed medium → nothing to sample
                # fake: one frame per second of duration, sampled every_n.
                # digest = sha256(content || ":frame_index" ascii) — the
                # separator keeps it injective per frame and ASCII-safe so
                # a SQL oracle reproduces it (engines' sha256 functions are
                # commonly VARCHAR-only; raw BE32 bytes contain NULs)
                n_frames = max(int(duration // 1000), 1)
                for i in range(0, n_frames, every_n):
                    ids.append(media_id)
                    idxs.append(i)
                    hashes.append(
                        hashlib.sha256(content + f":{i}".encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {"media_id": ids, "frame_index": idxs, "frame_sha256": hashes}
            )

    return df.select(
        "media_id", "content", F.col("meta.duration_ms").alias("duration_ms")
    ).mapInPandas(kernel, FRAME_SAMPLE_SCHEMA)


def media_dedup_exact(df: DataFrame) -> DataFrame:
    """Exact media dedup on the binary digest — JVM-side sha2 over the
    binary column (no Python), then the standard hash-groupBy."""
    return (
        df.select("media_id", F.sha2(F.col("content"), 256).alias("content_sha256"))
        .groupBy("content_sha256")
        .agg(F.min("media_id").alias("media_id"), F.count(F.lit(1)).alias("dup_count"))
        .select("media_id", "content_sha256", "dup_count")
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("resized_sha256", T.StringType()),
    ]
)


def resize_images(
    df: DataFrame, width: int = 64, height: int = 64, decode_stub: bool = True
) -> DataFrame:
    """binary image → resized-image digest record. Stub derives the digest
    from (content, target size); a real kernel decodes, resizes with
    PIL/opencv, and re-encodes. Same plan shape as feature extraction:
    pure mapInPandas over the scan, no shuffle — at 100 TB the knob is
    partition byte size, not the operator."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install_stamped_zipimporter()
        tag = f"|{width}x{height}".encode()
        for pdf in batches:
            if not decode_stub:
                # Real implementation: PIL Image.open(...).resize((w, h))
                raise NotImplementedError("image codec not available in this environment")
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": width,
                    "height": height,
                    "resized_sha256": pdf["content"].map(
                        lambda b: hashlib.sha256(b + tag).hexdigest()
                        if b is not None
                        else None
                    ),
                }
            )

    return df.select("media_id", "content").mapInPandas(kernel, RESIZED_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("window_index", T.IntegerType()),
        T.StructField("energy", T.FloatType()),
    ]
)


def extract_audio_features(
    df: DataFrame, n_windows: int = 4, decode_stub: bool = True
) -> DataFrame:
    """audio binary → per-window energy rows (one row per analysis
    window). ``decode_stub=False`` REALLY decodes: uncompressed 16-bit
    PCM WAV content goes through the pure-Python RIFF decoder and energy
    is the mean-square of the actual samples per equal window —
    ``(10⁶·Σs²) // (n·2¹⁵·2¹⁵) / 10⁶`` (exact integer arithmetic up to
    the final division, so a SQL oracle that replays the sample
    generator reproduces every float). Compressed codecs raise
    ValueError from the parser. The default stub computes mean byte
    value over equal content slices (plumbing-only mode). Output rows =
    input rows × n_windows, generated inside the kernel like the frame
    sampler."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install_stamped_zipimporter()
        for pdf in batches:
            ids, idxs, energies = [], [], []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                if content is None or len(content) == 0:
                    continue
                if decode_stub:
                    step = max(len(content) // n_windows, 1)
                    for i in range(n_windows):
                        chunk = content[i * step : (i + 1) * step] or content[-step:]
                        ids.append(media_id)
                        idxs.append(i)
                        energies.append(sum(chunk) / (255.0 * len(chunk)))
                else:
                    _, _, samples = wav_pcm16_decode(content)
                    if not samples:
                        continue
                    step = max(len(samples) // n_windows, 1)
                    for i in range(n_windows):
                        win = samples[i * step : (i + 1) * step] or samples[-step:]
                        ss = sum(s * s for s in win)
                        ids.append(media_id)
                        idxs.append(i)
                        energies.append(
                            ((1_000_000 * ss) // (len(win) * (1 << 30)))
                            / 1_000_000.0
                        )
            yield pd.DataFrame(
                {"media_id": ids, "window_index": idxs, "energy": energies}
            )

    return df.select("media_id", "content").mapInPandas(kernel, AUDIO_FEATURES_SCHEMA)
