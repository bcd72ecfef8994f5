"""Multimodal column plumbing: opaque binary payloads + typed metadata, and
an Arrow-batched feature-extraction path (LLM-data-pipeline family).

Model: media (image/audio/video) live as ``binary`` columns next to typed
metadata — Spark treats the bytes as opaque, parquet stores them inline,
and ALL decode/feature work happens in Arrow-batched Python via
``mapInPandas`` (the one place row-at-a-time Python is justified: the
decode itself is C-library work per blob, and Arrow moves the bytes in
columnar batches, not pickled rows).

Decoders are pluggable. The REAL decoders are stubs by design — image/audio
libraries are not in this container — with the full Spark-side plumbing
(schema contract, batch iteration, partition scaling) real and tested via a
deterministic fake decoder.

Scale notes: feature extraction is map-only (no shuffle); batch memory is
bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` blobs at a
time; partition count follows the source file splits, so a 100 TB blob
corpus fans out across executors with no driver involvement.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_TYPES = ("image", "audio", "video")

#: output contract of extract_features (keep in sync with _extract_one)
FEATURES_SCHEMA = (
    "doc_id long, media_type string, n_bytes int, mean_byte double, "
    "byte_hist array<bigint>"
)
N_HIST_BINS = 4

Decoder = Callable[[str, bytes], dict]


def with_media_blob(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, media_type, payload binary): the text bytes
    stand in for the opaque media payload; media_type cycles by doc_id."""
    media = (
        F.when(F.col("doc_id") % 3 == 0, MEDIA_TYPES[0])
        .when(F.col("doc_id") % 3 == 1, MEDIA_TYPES[1])
        .otherwise(MEDIA_TYPES[2])
    )
    return docs.select(
        "doc_id",
        media.alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        "text",
    )


def fake_decoder(media_type: str, payload: bytes) -> dict:
    """Deterministic decode stand-in: byte statistics + a tiny histogram
    ('frame-sampled' for video — every 2nd byte — to exercise per-modality
    branching)."""
    data = payload[::2] if media_type == "video" else payload
    hist = [0] * N_HIST_BINS
    for b in data:
        hist[b * N_HIST_BINS // 256] += 1
    return {
        "n_bytes": len(payload),
        "mean_byte": (sum(data) / len(data)) if data else 0.0,
        "byte_hist": hist,
    }


# ---------------------------------------------------------------------------
# real image codec: pure-Python PNG (W3C PNG spec / RFC 2083) with a guarded
# PIL fast path — the decode stage stops being a stub wherever the payload
# is PNG, which the in-repo encoder guarantees for the synthetic corpus
# ---------------------------------------------------------------------------

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

#: channels per PNG color type (8-bit, non-interlaced support only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


@functools.lru_cache(maxsize=1)
def pil_available() -> bool:
    """Probe for Pillow (a guarded import): where it exists the decoder
    takes the C fast path; the pure decoder below is the always-available
    fallback. Memoized: Python does
    NOT cache failed imports, so an unmemoized probe would pay a full
    sys.path scan per decoded blob when Pillow is absent (the common
    case in this container)."""
    try:  # pragma: no cover - depends on environment
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def png_encode(width: int, height: int, pixels: bytes, channels: int = 1) -> bytes:
    """Minimal standards-compliant PNG writer: 8-bit grayscale (1 channel)
    or RGB (3), filter type 0 per scanline, one zlib IDAT."""
    import struct
    import zlib

    if len(pixels) != width * height * channels:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes; {width}x{height}x{channels} "
            f"needs {width * height * channels}"
        )
    color_type = {1: 0, 3: 2}[channels]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    stride = width * channels
    raw = bytearray()
    for y in range(height):
        raw.append(0)  # filter type None
        raw += pixels[y * stride : (y + 1) * stride]
    return (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_decode(payload: bytes) -> tuple[int, int, int, bytes]:
    """Pure-Python PNG reader -> (width, height, channels, pixel bytes).

    Supports 8-bit depth, color types 0/2/4/6, all five scanline filters
    (None/Sub/Up/Average/Paeth per the spec), non-interlaced only; chunk
    CRCs are verified so a corrupted payload fails loudly instead of
    yielding garbage features."""
    import struct
    import zlib

    if payload[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos, width, height, channels = 8, None, None, None
    idat = bytearray()
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} fails CRC")
        if ctype == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or interlace != 0 or color_type not in _PNG_CHANNELS:
                raise NotImplementedError(
                    f"unsupported PNG variant (depth={depth}, "
                    f"color_type={color_type}, interlace={interlace})"
                )
            channels = _PNG_CHANNELS[color_type]
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None or channels is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG IDAT length does not match dimensions")
    out = bytearray(height * stride)
    bpp = channels
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        prior = out[(y - 1) * stride : y * stride] if y else bytes(stride)
        if ftype == 1:  # Sub
            for x in range(bpp, stride):
                line[x] = (line[x] + line[x - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                line[x] = (line[x] + prior[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + (a + prior[x]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                c = prior[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + _paeth(a, prior[x], c)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y * stride : (y + 1) * stride] = line
    return width, height, channels, bytes(out)


def real_image_decoder(media_type: str, payload: bytes) -> dict:
    """The production decode hook, same contract as fake_decoder but over
    DECODED PIXELS: images decode through PIL where installed (guarded
    probe) and through the pure-Python PNG reader otherwise, so the path
    is real wherever the bytes are PNG. Audio/video decode still requires
    external codecs (librosa/av) and fails loudly."""
    if media_type != "image":
        raise NotImplementedError(
            f"no {media_type} codec in this environment; plug a decoder "
            "with the same (media_type, payload) -> dict contract"
        )
    if pil_available():  # pragma: no cover - environment-dependent
        import io

        import PIL.Image

        img = PIL.Image.open(io.BytesIO(payload))
        pixels = img.tobytes()
    else:
        _w, _h, _c, pixels = png_decode(payload)
    hist = [0] * N_HIST_BINS
    for b in pixels:
        hist[b * N_HIST_BINS // 256] += 1
    return {
        "n_bytes": len(payload),
        "mean_byte": (sum(pixels) / len(pixels)) if pixels else 0.0,
        "byte_hist": hist,
    }


# ---------------------------------------------------------------------------
# pure-Python WAV (RIFF PCM) codec — the public RIFF/WAVE container spec,
# same role as the PNG codec above: the one audio format a container
# without media libraries can still encode/decode FOR REAL. The decode
# fan-out pattern (Arrow batches -> per-blob kernel) is what a librosa/
# ffmpeg-backed decoder plugs into unchanged.
# ---------------------------------------------------------------------------

#: canonical fixture parameters for the synthetic corpus
WAV_SAMPLE_RATE = 16_000


def wav_encode(
    samples, sample_rate: int = WAV_SAMPLE_RATE, channels: int = 1
) -> bytes:
    """Minimal standards-compliant WAV writer: PCM (format 1), 16-bit
    little-endian, interleaved ``channels``. ``samples`` is a flat
    sequence of ints in [-32768, 32767] (frame-major interleaved)."""
    import struct

    if channels < 1:
        raise ValueError("channels must be >= 1")
    if len(samples) % channels:
        raise ValueError(
            f"{len(samples)} samples do not interleave into {channels} channels"
        )
    data = struct.pack(f"<{len(samples)}h", *samples)
    block_align = channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block_align,
        block_align, 16,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) % 2 else b"")  # RIFF chunks pad to even
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_decode(payload: bytes) -> dict:
    """Pure-Python WAV reader -> {sample_rate, channels, bits, samples}.

    Walks the RIFF chunk list (any chunk order, odd-size pad bytes per
    spec), requires PCM (format 1) at 8 or 16 bits; 8-bit is unsigned,
    16-bit signed little-endian, per the WAVE spec. Raises ValueError on
    a torn container and NotImplementedError on non-PCM encodings (the
    honest boundary — ADPCM/float need a real codec)."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    riff_size = struct.unpack_from("<I", payload, 4)[0]
    if riff_size + 8 > len(payload):
        raise ValueError("RIFF size exceeds payload (torn write?)")
    fmt = None
    data = None
    pos = 12
    while pos + 8 <= riff_size + 8:
        ctype = payload[pos : pos + 4]
        csize = struct.unpack_from("<I", payload, pos + 4)[0]
        body_at = pos + 8
        if body_at + csize > len(payload):
            raise ValueError(f"chunk {ctype!r} overruns the container")
        if ctype == b"fmt ":
            if csize < 16:
                raise ValueError("fmt chunk too short")
            fmt = struct.unpack_from("<HHIIHH", payload, body_at)
        elif ctype == b"data":
            data = payload[body_at : body_at + csize]
        pos = body_at + csize + (csize % 2)  # pad byte on odd sizes
    if fmt is None or data is None:
        raise ValueError("missing fmt / data chunk")
    audio_format, channels, sample_rate, _byte_rate, _block_align, bits = fmt
    if audio_format != 1:
        raise NotImplementedError(
            f"WAV format {audio_format} (non-PCM) needs an external codec"
        )
    if bits == 16:
        samples = list(struct.unpack(f"<{len(data) // 2}h", data[: len(data) // 2 * 2]))
    elif bits == 8:
        samples = list(data)  # 8-bit WAV is unsigned
    else:
        raise NotImplementedError(f"{bits}-bit PCM not supported")
    return {
        "sample_rate": sample_rate,
        "channels": channels,
        "bits": bits,
        "samples": samples,
    }


def real_audio_decoder(media_type: str, payload: bytes) -> dict:
    """The audio twin of real_image_decoder: decodes genuine WAV bytes and
    reports stats over the DECODED SAMPLES (clamped to [0, 255] for the
    shared histogram contract — the synthetic corpus encodes byte-valued
    samples, so the clamp is the identity there)."""
    if media_type != "audio":
        raise NotImplementedError(
            f"no {media_type} codec on this path; see real_media_decoder"
        )
    samples = wav_decode(payload)["samples"]
    hist = [0] * N_HIST_BINS
    for s in samples:
        hist[min(max(s, 0), 255) * N_HIST_BINS // 256] += 1
    return {
        "n_bytes": len(payload),
        "mean_byte": (sum(samples) / len(samples)) if samples else 0.0,
        "byte_hist": hist,
    }


#: default frame rate for synthesized AVI clips
AVI_FPS = 10

#: fixed header overhead of the writer's container layout:
#: RIFF(12) + LIST hdrl(12 + avih 64 + LIST strl(12 + strh 64 + strf 48))
#: + LIST movi(12); each frame then costs 8 + biSizeImage
AVI_HEADER_BYTES = 12 + (12 + 64 + (12 + 64 + 48)) + 12


def _avi_row_bytes(width: int) -> int:
    """24-bit DIB rows pad to 4-byte boundaries (BITMAPINFOHEADER spec)."""
    return (3 * width + 3) // 4 * 4


def avi_encode(
    frames, width: int, height: int, fps: int = AVI_FPS
) -> bytes:
    """Minimal standards-compliant AVI writer (public MS RIFF/AVI spec):
    one 'vids' stream of uncompressed 24-bit BI_RGB DIB frames ('00db'
    chunks, bottom-up rows, 4-byte row padding). ``frames`` is a list of
    GRAYSCALE frames (bytes of length width*height, row-major top-down);
    gray goes to equal B=G=R channels, so the encode is lossless."""
    import struct

    if width < 1 or height < 1:
        raise ValueError("width and height must be positive")
    if fps < 1:
        raise ValueError("fps must be positive")
    import numpy as np

    row_bytes = _avi_row_bytes(width)
    frame_bytes = row_bytes * height
    movi_items = []
    for f in frames:
        if len(f) != width * height:
            raise ValueError(
                f"frame has {len(f)} bytes, expected {width * height}"
            )
        gray = np.frombuffer(f, dtype=np.uint8).reshape(height, width)
        dib = np.zeros((height, row_bytes), dtype=np.uint8)
        # equal B=G=R channels, rows bottom-up, 4-byte row padding
        dib[:, : 3 * width] = np.repeat(gray[::-1], 3, axis=1)
        movi_items.append(
            b"00db" + struct.pack("<I", frame_bytes) + dib.tobytes()
        )
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps,  # dwMicroSecPerFrame
        frame_bytes * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0,  # dwFlags (no idx1 index written)
        len(frames),  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        frame_bytes,  # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,  # dwReserved
    )
    strh = (
        b"vids" + b"DIB " + struct.pack(
            "<IHHIIIIIIII4H",
            0, 0, 0,  # flags, priority, language
            0,  # initial frames
            1, fps,  # scale, rate -> rate/scale fps
            0, len(frames),  # start, length
            frame_bytes,  # suggested buffer
            0xFFFFFFFF,  # quality (default)
            0,  # sample size (varies)
            0, 0, width, height,  # rcFrame
        )
    )
    strf = struct.pack(
        "<IiiHHIIiiII",
        40, width, height, 1, 24,  # biSize..biBitCount
        0,  # biCompression = BI_RGB
        frame_bytes, 0, 0, 0, 0,
    )
    strl = b"strl" + b"strh" + struct.pack("<I", len(strh)) + strh \
        + b"strf" + struct.pack("<I", len(strf)) + strf
    hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih \
        + b"LIST" + struct.pack("<I", len(strl)) + strl
    movi = b"movi" + b"".join(movi_items)
    body = (
        b"AVI "
        + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
        + b"LIST" + struct.pack("<I", len(movi)) + movi
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def avi_decode(payload: bytes) -> dict:
    """Pure-Python AVI reader -> {width, height, fps, n_frames, frames}.

    Walks the nested RIFF LIST structure (any chunk order, unknown
    chunks skipped, odd-size pad bytes per spec), requires an
    uncompressed 24-bit BI_RGB 'vids' stream; frames come back as
    GRAYSCALE bytes (row-major top-down, integer-mean luma — exact
    inverse of avi_encode's equal-channel writing). Raises ValueError on
    a torn container and NotImplementedError on compressed codecs (the
    honest boundary — MJPEG/H.264 need a real codec)."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI container")
    riff_size = struct.unpack_from("<I", payload, 4)[0]
    if riff_size + 8 > len(payload):
        raise ValueError("RIFF size exceeds payload (torn write?)")

    avih = None
    bmih = None
    frames_raw: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        nonlocal avih, bmih
        while pos + 8 <= end:
            ctype = payload[pos : pos + 4]
            csize = struct.unpack_from("<I", payload, pos + 4)[0]
            body_at = pos + 8
            if body_at + csize > end:
                raise ValueError(f"chunk {ctype!r} overruns the container")
            if ctype == b"LIST":
                walk(body_at + 4, body_at + csize)  # skip the list type id
            elif ctype == b"avih":
                if csize < 56:
                    raise ValueError("avih chunk too short")
                avih = struct.unpack_from("<IIIIIIIIII", payload, body_at)
            elif ctype == b"strf":
                if csize < 40:
                    raise ValueError("strf chunk too short")
                bmih = struct.unpack_from("<IiiHHI", payload, body_at)
            elif ctype[2:] in (b"db", b"dc"):
                frames_raw.append(payload[body_at : body_at + csize])
            pos = body_at + csize + (csize % 2)  # pad byte on odd sizes

    walk(12, riff_size + 8)
    if avih is None or bmih is None:
        raise ValueError("missing avih / strf header")
    usec_per_frame, _, _, _, total_frames = avih[:5]
    width, height = avih[8], avih[9]
    _, _, _, _, bit_count, compression = bmih
    if compression != 0:
        raise NotImplementedError(
            f"AVI compression 0x{compression:08x} needs an external codec"
        )
    if bit_count != 24:
        raise NotImplementedError(f"{bit_count}-bit DIB not supported")
    if len(frames_raw) != total_frames:
        raise ValueError(
            f"avih declares {total_frames} frames, movi carries "
            f"{len(frames_raw)}"
        )
    import numpy as np

    row_bytes = _avi_row_bytes(width)
    frames = []
    for dib in frames_raw:
        if len(dib) != row_bytes * height:
            raise ValueError("DIB frame size mismatch")
        rows = np.frombuffer(dib, dtype=np.uint8).reshape(height, row_bytes)
        bgr = rows[::-1, : 3 * width].reshape(height, width, 3)  # bottom-up
        gray = bgr.astype(np.uint16).sum(axis=2) // 3  # integer-mean luma
        frames.append(gray.astype(np.uint8).tobytes())
    return {
        "width": width,
        "height": height,
        "fps": round(1_000_000 / usec_per_frame) if usec_per_frame else 0,
        "n_frames": len(frames),
        "frames": frames,
    }


def real_video_decoder(media_type: str, payload: bytes) -> dict:
    """The video leg of real_media_decoder: decodes genuine AVI bytes and
    reports the shared stats contract over the DECODED grayscale pixels
    of every frame."""
    if media_type != "video":
        raise NotImplementedError(
            f"no {media_type} codec on this path; see real_media_decoder"
        )
    decoded = avi_decode(payload)
    hist = [0] * N_HIST_BINS
    total = 0
    count = 0
    for frame in decoded["frames"]:
        for px in frame:
            hist[px * N_HIST_BINS // 256] += 1
        total += sum(frame)
        count += len(frame)
    return {
        "n_bytes": len(payload),
        "mean_byte": (total / count) if count else 0.0,
        "byte_hist": hist,
    }


def real_media_decoder(media_type: str, payload: bytes) -> dict:
    """Dispatching production decoder: PNG (or PIL) for images, RIFF-PCM
    WAV for audio, RIFF-AVI uncompressed DIB for video; compressed video
    codecs remain an honest NotImplementedError until an external codec
    (av/ffmpeg) is plugged in with the same contract."""
    if media_type == "image":
        return real_image_decoder(media_type, payload)
    if media_type == "audio":
        return real_audio_decoder(media_type, payload)
    if media_type == "video":
        return real_video_decoder(media_type, payload)
    raise NotImplementedError(
        f"no {media_type} codec in this environment; plug a decoder "
        "with the same (media_type, payload) -> dict contract"
    )


def extract_features(
    blobs: DataFrame, decoder: Decoder = fake_decoder
) -> DataFrame:
    """Arrow-batched feature extraction over (doc_id, media_type, payload).

    mapInPandas streams column batches through Python; each batch yields one
    result frame — no per-row serialization, no driver collection.
    """
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            feats = [
                decoder(mt, bytes(pl))
                for mt, pl in zip(pdf["media_type"], pdf["payload"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [f["n_bytes"] for f in feats],
                    "mean_byte": [f["mean_byte"] for f in feats],
                    "byte_hist": [f["byte_hist"] for f in feats],
                }
            )

    return blobs.select("doc_id", "media_type", "payload").mapInPandas(
        run, FEATURES_SCHEMA
    )


#: Frame sampling layout: one FRAME_BYTES window every FRAME_STRIDE bytes
#: (stride > width = sampling, the video-keyframe pattern).
FRAME_BYTES = 32
FRAME_STRIDE = 64

FRAMES_SCHEMA = (
    "doc_id long, frame_idx long, frame_offset long, n_frame_bytes long, "
    "frame_hash string, mean_byte double"
)


def sample_frames(blobs: DataFrame) -> DataFrame:
    """Frame sampling over video blobs: every FRAME_STRIDE bytes, emit one
    FRAME_BYTES window with its md5 (the downstream dedup/cache key) and
    byte mean — the 'decode, then keep every Nth frame' stage of a video
    ingest pipeline, with the frame boundaries standing in for codec
    keyframes.

    Same Arrow contract as extract_features: bytes move in columnar
    batches, the fan-out (one row per sampled frame) happens inside the
    Python stage, and nothing returns to the driver. The payload itself
    never leaves the stage — downstream joins use (doc_id, frame_offset)
    or the hash.
    """
    import hashlib

    import pandas as pd

    video = blobs.filter(F.col("media_type") == "video")

    def run(batches):
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "frame_idx", "frame_offset", "n_frame_bytes",
                "frame_hash", "mean_byte",
            )}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                for i, start in enumerate(range(0, len(b), FRAME_STRIDE)):
                    fr = b[start : start + FRAME_BYTES]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_offset"].append(start)
                    out["n_frame_bytes"].append(len(fr))
                    out["frame_hash"].append(hashlib.md5(fr).hexdigest())
                    out["mean_byte"].append(sum(fr) / len(fr))
            yield pd.DataFrame(out)

    return video.select("doc_id", "payload").mapInPandas(run, FRAMES_SCHEMA)


#: Resize layout: every image downsamples to a fixed THUMB_PIXELS "pixels"
#: (byte buckets averaged with exact integer floor division).
THUMB_PIXELS = 16

RESIZE_SCHEMA = (
    "doc_id long, n_bytes int, thumb_hash string, thumb_mean double"
)


def resize_thumbnails(blobs: DataFrame) -> DataFrame:
    """The resize stage of an image ingest pipeline, Arrow-batched: each
    image payload downsamples to a fixed THUMB_PIXELS-bucket thumbnail
    (bucket value = floor mean of its byte range — a box filter with the
    real resample kernel stubbed out, since image libs are absent in this
    container; the Spark-side plumbing — schema, batching, partitioning —
    is the production shape). Emits the thumbnail's md5 (dedup/cache key)
    and mean. Payload bytes never leave the stage."""
    import hashlib

    import pandas as pd

    images = blobs.filter(F.col("media_type") == "image")

    def run(batches):
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "n_bytes", "thumb_hash", "thumb_mean")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n = len(b)
                # bucket i covers [i*n//P, (i+1)*n//P) — exact integer bounds
                thumb = bytes(
                    (
                        sum(b[i * n // THUMB_PIXELS : (i + 1) * n // THUMB_PIXELS])
                        // max(1, (i + 1) * n // THUMB_PIXELS - i * n // THUMB_PIXELS)
                    )
                    for i in range(THUMB_PIXELS)
                )
                out["doc_id"].append(doc_id)
                out["n_bytes"].append(n)
                out["thumb_hash"].append(hashlib.md5(thumb).hexdigest())
                out["thumb_mean"].append(sum(thumb) / THUMB_PIXELS)
            yield pd.DataFrame(out)

    return images.select("doc_id", "payload").mapInPandas(run, RESIZE_SCHEMA)


PHASH_SCHEMA = "doc_id long, phash long"


def phash_images(blobs: DataFrame) -> DataFrame:
    """Perceptual hash (aHash) over image payloads: downsample to the
    THUMB_PIXELS box-filter thumbnail (same kernel as resize_thumbnails),
    then one bit per bucket — set iff the bucket mean exceeds the
    thumbnail's mean, compared as ``v * THUMB_PIXELS > total`` so the
    whole hash is integer-exact. Images that differ only by re-encoding
    or mild noise collide; the hash is the image dedup/clustering key a
    multimodal corpus pipeline shuffles INSTEAD of pixels.

    Same Arrow contract as the other decoders: bytes stream through in
    columnar batches, one long per image comes out."""
    import pandas as pd

    images = blobs.filter(F.col("media_type") == "image")

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, hashes = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n = len(b)
                thumb = [
                    sum(b[i * n // THUMB_PIXELS : (i + 1) * n // THUMB_PIXELS])
                    // max(1, (i + 1) * n // THUMB_PIXELS - i * n // THUMB_PIXELS)
                    for i in range(THUMB_PIXELS)
                ]
                total = sum(thumb)
                ph = sum(
                    1 << i
                    for i, v in enumerate(thumb)
                    if v * THUMB_PIXELS > total
                )
                ids.append(int(doc_id))
                hashes.append(ph)
            yield pd.DataFrame({"doc_id": ids, "phash": hashes})

    return images.select("doc_id", "payload").mapInPandas(run, PHASH_SCHEMA)


#: Audio windowing: WINDOW_BYTES-wide non-overlapping energy windows, at
#: most MAX_WINDOWS per clip (only FULL windows are emitted — a trailing
#: partial window would make energies length-dependent noise).
WINDOW_BYTES = 32
MAX_WINDOWS = 4

ENERGY_SCHEMA = "doc_id long, window_idx long, energy long, peak long"


def audio_energy(blobs: DataFrame) -> DataFrame:
    """Windowed 'audio' energy over the byte stream (audio rows only):
    per window, the exact integer sum and max of the byte values — the
    Arrow-batched stand-in for an RMS/peak meter over decoded PCM. The
    numpy kernel reshapes each clip's first MAX_WINDOWS*WINDOW_BYTES bytes
    into (n_windows, WINDOW_BYTES) and reduces per row — one vectorized
    pass per batch, no per-sample Python."""
    import numpy as np
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out: dict[str, list[int]] = {
                "doc_id": [], "window_idx": [], "energy": [], "peak": []
            }
            for doc_id, pl in zip(pdf["doc_id"], pdf["payload"]):
                data = np.frombuffer(bytes(pl), dtype=np.uint8)
                n_win = min(len(data) // WINDOW_BYTES, MAX_WINDOWS)
                if n_win == 0:
                    continue
                w = data[: n_win * WINDOW_BYTES].reshape(n_win, WINDOW_BYTES)
                out["doc_id"].extend([int(doc_id)] * n_win)
                out["window_idx"].extend(range(n_win))
                out["energy"].extend(w.sum(axis=1, dtype=np.int64).tolist())
                out["peak"].extend(w.max(axis=1).astype(np.int64).tolist())
            yield pd.DataFrame(out)

    from pyspark.sql import functions as F

    audio = blobs.filter(F.col("media_type") == "audio")
    return audio.select("doc_id", "payload").mapInPandas(run, ENERGY_SCHEMA)
