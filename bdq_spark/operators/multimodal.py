"""Multimodal (image/audio/video) column plumbing.

Extension mandate (BASELINE.json north_star): treat media as opaque
``binary`` columns with typed metadata; decode / feature-extract /
resize / frame-sample run as Arrow-batched Pandas functions over
``mapInPandas``.

The decode surface here is REAL wherever pure Python can truly decode,
and an honest ``decode_ok=false`` refusal everywhere else:

- headers/containers: PNG/JPEG/GIF/BMP/WebP image headers, WAV/FLAC/MP3
  audio headers, MP4/AVI video containers (incl. real AVI frame
  extraction — MJPEG frames come out as complete JPEGs);
- image PIXELS: uncompressed 24bpp BMP, non-interlaced 8-bit PNG
  (stdlib zlib + the five row filters, palette via PLTE), non-interlaced
  GIF (pure-Python LZW), baseline JPEG
  (:mod:`bdq_spark.operators.jpeg` — huffman + IDCT + YCbCr,
  gray/4:4:4/4:2:2/4:2:0);
- audio SAMPLES: 8/16/24-bit integer-PCM WAV, compressed IMA-ADPCM WAV
  (:func:`decode_adpcm_samples` — the published IMA nibble state
  machine) and in-profile FLAC (:mod:`bdq_spark.operators.flac` — rice
  residuals + fixed/LPC predictors, lossless so roundtrips are
  bit-exact);
- video PIXELS: per-frame decode for MJPEG (complete JPEGs inside AVI
  ``movi`` chunks), raw BI_RGB 24bpp DIB frames, and compressed
  Microsoft RLE8 palettized frames (:func:`decode_rle8_frame`).

- audio STREAM arithmetic: the full MP3 frame-header chain
  (:func:`walk_mp3_frames` — per-frame sizing from the published
  bitrate/samplerate tables gives exact frame counts, VBR-correct
  duration and bitrate sums without any MDCT).

What remains stubbed is exactly the DSP-bound work no pure-Python
implementation can honestly claim at reasonable scope —
SAMPLE-ACCURATE MP3 PCM (the MDCT filterbank) and
transform/motion-compensated video codecs (cinepak, h264, ...) ONLY;
the feature-extraction fake is likewise labeled.  Swap a stub for a real codec and nothing else changes —
schemas, partitioning, batch shapes are production-real and tested.

Scale notes:

- ``mapInPandas`` streams Arrow batches — a partition's media bytes are
  never all resident at once; set
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` low (e.g. 64) for
  large blobs so a batch of 100 MB videos doesn't OOM the Python worker.
- Media tables should be written with the binary column LAST and scanned
  with the metadata columns only when the payload isn't needed — column
  pruning then skips the heavy bytes entirely.
- ``spark.read.format('binaryFile')`` is the standard loader for media
  directories (path, modificationTime, length, content).
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bdq_spark.operators.flac import decode_flac_samples
from bdq_spark.operators.jpeg import decode_jpeg_pixels

__all__ = [
    "MEDIA_SCHEMA",
    "attach_media_metadata",
    "audio_pcm_stats",
    "decode_adpcm_samples",
    "decode_audio",
    "decode_bmp_pixels",
    "decode_flac_samples",
    "decode_gif_pixels",
    "decode_png_pixels",
    "decode_images",
    "decode_jpeg_pixels",
    "decode_video",
    "decode_wav_samples",
    "extract_image_features",
    "image_pixel_stats",
    "extract_avi_frames",
    "decode_dib_frame",
    "decode_rle8_frame",
    "parse_audio_header",
    "parse_image_header",
    "parse_video_header",
    "sample_container_frames",
    "sample_video_frames",
    "video_pixel_stats",
]

#: Canonical media-column bundle: opaque payload + typed metadata.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("mime", T.StringType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("content", T.BinaryType(), True),
    ]
)


#: PNG color type -> sample channels (PNG spec, IHDR colour types)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def parse_image_header(payload: bytes) -> Optional[dict]:
    """Parse (format, width, height, channels) from real image headers —
    pure Python over the leading bytes, no codec library needed.

    Supported: PNG (IHDR chunk), JPEG (segment walk to SOFn), GIF
    (logical screen descriptor), BMP (BITMAPINFOHEADER), WebP
    (VP8 / VP8L / VP8X chunks).  Returns ``None`` for anything
    unrecognized or truncated — honest "not an image", never a guess.
    """
    n = len(payload)
    if n < 10:
        return None
    # PNG: 8-byte signature, then the IHDR chunk is mandatory-first
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        if n < 26 or payload[12:16] != b"IHDR":
            return None
        w, h = struct.unpack(">II", payload[16:24])
        channels = _PNG_CHANNELS.get(payload[25], 3)
        return {"format": "png", "width": w, "height": h, "channels": channels}
    # GIF: 6-byte version, then the logical screen descriptor (LE u16s)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", payload[6:10])
        return {"format": "gif", "width": w, "height": h, "channels": 3}
    # BMP: DIB header at offset 14 — its leading size field selects the
    # layout.  BITMAPCOREHEADER (size 12) stores 16-bit dims; the
    # BITMAPINFOHEADER family (size >= 40) stores 32-bit signed dims
    # (height may be negative = top-down).  Other sizes: not a guess.
    if payload[:2] == b"BM":
        if n < 26:
            return None
        dib_size = struct.unpack("<I", payload[14:18])[0]
        if dib_size == 12:
            w, h = struct.unpack("<HH", payload[18:22])
            return {"format": "bmp", "width": w, "height": h, "channels": 3}
        if dib_size >= 40:
            w, h = struct.unpack("<ii", payload[18:26])
            return {
                "format": "bmp", "width": abs(w), "height": abs(h), "channels": 3
            }
        return None
    # WebP: RIFF container, dims live in the first VP8/VP8L/VP8X chunk
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP" and n >= 25:
        chunk = payload[12:16]
        if chunk == b"VP8 " and n >= 30 and payload[23:26] == b"\x9d\x01\x2a":
            w = struct.unpack("<H", payload[26:28])[0] & 0x3FFF
            h = struct.unpack("<H", payload[28:30])[0] & 0x3FFF
            return {"format": "webp", "width": w, "height": h, "channels": 3}
        if chunk == b"VP8L" and payload[20] == 0x2F:
            bits = struct.unpack("<I", payload[21:25])[0]
            return {
                "format": "webp",
                "width": (bits & 0x3FFF) + 1,
                "height": ((bits >> 14) & 0x3FFF) + 1,
                "channels": 4 if (bits >> 28) & 1 else 3,
            }
        if chunk == b"VP8X" and n >= 30:
            return {
                "format": "webp",
                "width": int.from_bytes(payload[24:27], "little") + 1,
                "height": int.from_bytes(payload[27:30], "little") + 1,
                "channels": 4 if (payload[20] >> 4) & 1 else 3,
            }
        return None
    # JPEG: SOI then a segment walk; dimensions sit in the first SOFn
    # marker (C0-CF minus DHT/JPG/DAC), height before width, big-endian
    if payload[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= n:
            if payload[i] != 0xFF:
                i += 1  # tolerate padding bytes between segments
                continue
            marker = payload[i + 1]
            if marker == 0xFF:
                i += 1  # fill bytes before a marker
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length
                continue
            if marker in (0xD9, 0xDA):
                return None  # EOI / start-of-scan before any SOFn
            seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
            if seg_len < 2:
                return None
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 10 > n:
                    return None
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                return {
                    "format": "jpeg",
                    "width": w,
                    "height": h,
                    "channels": payload[i + 9],
                }
            i += 2 + seg_len
        return None
    return None


# MPEG audio frame header tables (ISO/IEC 11172-3 / 13818-3).  Bitrates
# in kbit/s, indexed [version][layer][bitrate_index]; sample rates in Hz
# indexed [version][samplerate_index].  version: 0=MPEG2.5, 2=MPEG2,
# 3=MPEG1 (header bit values); layer: header bits (1=III, 2=II, 3=I).
_MP3_BITRATES = {
    (3, 1): [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    (3, 2): [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    (3, 3): [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    (2, 1): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    (2, 2): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    (2, 3): [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
}
_MP3_BITRATES[(0, 1)] = _MP3_BITRATES[(2, 1)]
_MP3_BITRATES[(0, 2)] = _MP3_BITRATES[(2, 2)]
_MP3_BITRATES[(0, 3)] = _MP3_BITRATES[(2, 3)]
_MP3_SAMPLE_RATES = {
    3: [44100, 48000, 32000],
    2: [22050, 24000, 16000],
    0: [11025, 12000, 8000],
}


def parse_audio_header(payload: bytes) -> Optional[dict]:
    """Parse (format, sample_rate, channels, bits_per_sample, duration_ms)
    from real audio headers — pure Python over the leading bytes, the
    audio sibling of :func:`parse_image_header`.

    Supported: WAV (RIFF chunk walk to ``fmt ``/``data``), FLAC
    (STREAMINFO metadata block), MP3 (first MPEG audio frame header,
    optionally behind an ID3v2 tag; duration is the CBR estimate
    ``payload_bits / bitrate`` — the honest answer without decoding
    every frame).  Returns ``None`` for anything unrecognized or
    truncated — never a guess.  ``duration_ms`` floors to whole
    milliseconds; ``bits_per_sample`` is 0 where the container does not
    declare one (MP3).
    """
    n = len(payload)
    if n < 12:
        return None
    # WAV: RIFF container; walk chunks for fmt (rates) and data (length)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        i = 12
        fmt = None
        data_size = None
        # first-wins, stop once both chunks are found: the data chunk's
        # declared size may exceed the actual payload (we parse headers,
        # not whole files), so walking past it would reinterpret body
        # bytes as chunk headers and let a bogus later "data"/"fmt "
        # match overwrite the real values
        while i + 8 <= n and (fmt is None or data_size is None):
            cid = payload[i : i + 4]
            size = struct.unpack("<I", payload[i + 4 : i + 8])[0]
            if cid == b"fmt " and fmt is None and i + 24 <= n:
                audio_tag = struct.unpack("<H", payload[i + 8 : i + 10])[0]
                channels, sample_rate = struct.unpack(
                    "<HI", payload[i + 10 : i + 16]
                )
                byte_rate = struct.unpack("<I", payload[i + 16 : i + 20])[0]
                bits = struct.unpack("<H", payload[i + 22 : i + 24])[0]
                fmt = (audio_tag, channels, sample_rate, byte_rate, bits)
            elif cid == b"data" and data_size is None:
                data_size = size
            i += 8 + size + (size & 1)  # chunks are word-aligned
        if fmt is None or data_size is None:
            return None
        audio_tag, channels, sample_rate, byte_rate, bits = fmt
        if sample_rate == 0 or byte_rate == 0:
            return None
        return {
            "format": "wav",
            # fmt-chunk codec tag: 1 = integer PCM.  Anything else
            # (ADPCM=2, float=3, EXTENSIBLE=0xFFFE, ...) means the data
            # chunk is NOT raw PCM even if it declares 16 bits, so the
            # PCM decoder below must refuse it.
            "audio_format": audio_tag,
            "sample_rate": sample_rate,
            "channels": channels,
            "bits_per_sample": bits,
            "duration_ms": data_size * 1000 // byte_rate,
        }
    # FLAC: fLaC magic, then STREAMINFO is the mandatory first block
    if payload[:4] == b"fLaC":
        if n < 26 or (payload[4] & 0x7F) != 0:  # block type 0 = STREAMINFO
            return None
        v = int.from_bytes(payload[18:26], "big")
        sample_rate = v >> 44
        channels = ((v >> 41) & 0x7) + 1
        bits = ((v >> 36) & 0x1F) + 1
        total_samples = v & ((1 << 36) - 1)
        if sample_rate == 0:
            return None
        return {
            "format": "flac",
            "sample_rate": sample_rate,
            "channels": channels,
            "bits_per_sample": bits,
            "duration_ms": total_samples * 1000 // sample_rate,
        }
    # MP3: optional ID3v2 tag (syncsafe size), then an MPEG frame header
    i = 0
    if payload[:3] == b"ID3" and n >= 10:
        ss = payload[6:10]
        if any(b & 0x80 for b in ss):
            return None  # malformed syncsafe size
        i = 10 + ((ss[0] << 21) | (ss[1] << 14) | (ss[2] << 7) | ss[3])
    if i + 4 <= n and payload[i] == 0xFF and (payload[i + 1] & 0xE0) == 0xE0:
        h1, h2, h3 = payload[i + 1], payload[i + 2], payload[i + 3]
        version = (h1 >> 3) & 0x3
        layer = (h1 >> 1) & 0x3
        bitrate_idx = (h2 >> 4) & 0xF
        rate_idx = (h2 >> 2) & 0x3
        if version == 1 or layer == 0 or bitrate_idx in (0, 15) or rate_idx == 3:
            return None  # reserved / free-format: can't size honestly
        bitrate = _MP3_BITRATES[(version, layer)][bitrate_idx] * 1000
        sample_rate = _MP3_SAMPLE_RATES[version][rate_idx]
        channels = 1 if ((h3 >> 6) & 0x3) == 3 else 2
        return {
            "format": "mp3",
            "sample_rate": sample_rate,
            "channels": channels,
            "bits_per_sample": 0,
            "duration_ms": (n - i) * 8 * 1000 // bitrate,
        }
    return None


_AUDIO_SCHEMA = (
    "media_id long, format string, sample_rate int, channels int, "
    "bits_per_sample int, duration_ms bigint, decode_ok boolean"
)


def decode_audio(df: DataFrame, content_column: str = "content") -> DataFrame:
    """Decode audio stream parameters via Arrow-batched ``mapInPandas`` —
    the audio sibling of :func:`decode_images`; same partitioning and
    batch-shape contract.  Output drops the payload so downstream stages
    shuffle only metadata.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = [
                parse_audio_header(bytes(b) if b is not None else b"")
                for b in pdf[content_column]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "format": [p["format"] if p else None for p in parsed],
                    "sample_rate": [p["sample_rate"] if p else 0 for p in parsed],
                    "channels": [p["channels"] if p else 0 for p in parsed],
                    "bits_per_sample": [
                        p["bits_per_sample"] if p else 0 for p in parsed
                    ],
                    "duration_ms": [p["duration_ms"] if p else 0 for p in parsed],
                    "decode_ok": [p is not None for p in parsed],
                }
            )

    return df.mapInPandas(decode, schema=_AUDIO_SCHEMA)


def decode_bmp_pixels(payload: bytes) -> Optional[dict]:
    """REAL pixel decode for uncompressed 24bpp BMP — pure Python, no
    codec library: the pixel array is raw BGR triples, rows padded to
    4-byte alignment, stored bottom-up (or top-down when the declared
    height is negative).  Returns ``(width, height, mean_brightness)``
    where ``mean_brightness`` is the exact mean over every pixel BYTE
    (padding excluded).  Compressed BMPs and other bit depths return
    ``None`` — the codec-stub boundary stays honest: this decodes only
    what pure Python can truly decode.
    """
    n = len(payload)
    if n < 34 or payload[:2] != b"BM":
        return None
    data_offset = struct.unpack("<I", payload[10:14])[0]
    dib_size = struct.unpack("<I", payload[14:18])[0]
    if dib_size < 40:
        return None
    w, h = struct.unpack("<ii", payload[18:26])
    bpp = struct.unpack("<H", payload[28:30])[0]
    compression = struct.unpack("<I", payload[30:34])[0]
    if w <= 0 or h == 0 or bpp != 24 or compression != 0:
        return None
    height = abs(h)
    row_size = (w * 3 + 3) // 4 * 4
    if data_offset + row_size * height > n:
        return None  # truncated pixel array — no partial guesses
    total = 0
    for r in range(height):
        off = data_offset + r * row_size
        total += sum(payload[off : off + w * 3])
    return {
        "width": w,
        "height": height,
        # exact integer sum / exact integer count — any engine
        # reproduces the identical double
        "mean_brightness": total / (w * 3 * height),
    }


def decode_png_pixels(payload: bytes) -> Optional[dict]:
    """REAL pixel decode for non-interlaced 8-bit-depth PNG — pure
    Python + stdlib ``zlib`` (PNG's IDAT stream IS zlib DEFLATE, so the
    most common image format on the web needs no codec library at all):
    walk the chunks, inflate the concatenated IDAT data, then undo the
    five per-row filters (None/Sub/Up/Average/Paeth) exactly as the PNG
    spec defines them — None/Sub/Up numpy-vectorized (Sub is a
    per-channel-lane cumulative sum mod 256), Average/Paeth scalar
    because their in-row dependency admits no exact vectorization.
    Returns ``(width, height, mean_brightness)``
    where ``mean_brightness`` is the exact mean over every unfiltered
    sample BYTE (all channels, same contract as
    :func:`decode_bmp_pixels`).

    Palette images (color type 3, 8-bit indices) decode through the
    PLTE table: each index maps to its RGB triple and the mean is over
    those mapped bytes — the same contract as GIF's color-table path.

    Honest refusals (``None``): interlaced (Adam7), 16-bit depth,
    sub-byte depths, missing/short PLTE for palette images, truncated
    chunks, and corrupt DEFLATE streams — the decoder only claims what
    it fully decodes.
    """
    n = len(payload)
    if n < 8 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    i = 8
    ihdr = None
    idat = []
    plte = None
    while i + 8 <= n:
        ln = int.from_bytes(payload[i : i + 4], "big")
        typ = payload[i + 8 - 4 : i + 8]
        data = payload[i + 8 : i + 8 + ln]
        if len(data) < ln:
            return None  # truncated chunk — no partial guesses
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IEND":
            break
        i += 12 + ln  # length + type + data + CRC
    if ihdr is None or len(ihdr) < 13 or not idat:
        return None
    w, h = struct.unpack(">II", ihdr[:8])
    bit_depth, color_type, comp, filt, interlace = ihdr[8:13]
    # 0 gray, 2 RGB, 3 palette (1 index byte), 4 gray+alpha, 6 RGBA
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if (
        bit_depth != 8
        or comp != 0
        or filt != 0
        or interlace != 0
        or channels is None
        or w == 0
        or h == 0
    ):
        return None
    if color_type == 3 and (plte is None or len(plte) % 3):
        return None  # palette image without a usable PLTE
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    stride = w * channels
    if len(raw) != (stride + 1) * h:
        return None
    bpp = channels  # bytes per pixel (8-bit samples)
    # Unfilter with numpy where the filter admits it (None is a no-op,
    # Up is element-wise, Sub is a per-channel-lane cumulative sum mod
    # 256); Average and Paeth keep the scalar loop because their in-row
    # dependency on the just-reconstructed ``line[x-bpp]`` has no exact
    # closed form (the textbook "Paeth cannot be vectorized" case).
    # All arithmetic stays integer-exact, so outputs are bit-identical
    # to the original pure-Python loops (goldens unchanged).
    prev = bytearray(stride)
    total = 0
    if color_type == 3:
        ncolors = len(plte) // 3
        pal = np.frombuffer(bytes(plte), dtype=np.uint8).astype(np.int64)
        plte_sums = pal[0::3] + pal[1::3] + pal[2::3]
    for r in range(h):
        off = r * (stride + 1)
        ftype = raw[off]
        # Unfilter with numpy where the filter admits it (None is a
        # no-op, Up is element-wise, Sub is a per-channel-lane
        # cumulative sum mod 256); Average and Paeth keep the scalar
        # bytearray loop because their in-row dependency on the
        # just-reconstructed ``line[x-bpp]`` has no exact closed form
        # (the textbook "Paeth cannot be vectorized" case).  Integer
        # arithmetic throughout — bit-identical to the scalar loops.
        if ftype == 0:  # None
            line = bytearray(raw[off + 1 : off + 1 + stride])
        elif ftype == 1:  # Sub: cumulative sum along the pixel axis
            lanes = np.cumsum(
                np.frombuffer(raw, np.uint8, stride, off + 1)
                .reshape(-1, bpp).astype(np.int64),
                axis=0,
            )
            lanes &= 0xFF
            line = bytearray(lanes.astype(np.uint8).tobytes())
        elif ftype == 2:  # Up
            s = (
                np.frombuffer(raw, np.uint8, stride, off + 1)
                .astype(np.int16)
                + np.frombuffer(prev, np.uint8)
            )
            s &= 0xFF
            line = bytearray(s.astype(np.uint8).tobytes())
        elif ftype == 3:  # Average — serial dependency on x-bpp
            line = bytearray(raw[off + 1 : off + 1 + stride])
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth — serial dependency on x-bpp
            line = bytearray(raw[off + 1 : off + 1 + stride])
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (line[x] + pred) & 0xFF
        else:
            return None  # invalid filter byte — corrupt stream
        if color_type == 3:
            idx = np.frombuffer(line, np.uint8)
            if int(idx.max()) >= ncolors:
                return None  # index past the palette — corrupt
            total += int(plte_sums[idx].sum())
        else:
            total += sum(line)
        prev = line
    denom = (w * 3 * h) if color_type == 3 else (stride * h)
    return {
        "width": w,
        "height": h,
        # exact integer sum / exact integer count — any engine
        # reproduces the identical double
        "mean_brightness": total / denom,
    }


def _gif_lzw_decode(data: bytes, min_code_size: int, max_pixels: int):
    """GIF-variant LZW decode (LSB-first bit packing, variable code
    width 3..12 bits, Clear/EOI codes, dictionary grows per emitted
    code).  Returns the index list, or ``None`` on a corrupt stream."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out: list = []
    # bit reader state
    bitpos = 0
    nbits = len(data) * 8

    def read(width):
        nonlocal bitpos
        if bitpos + width > nbits:
            return None
        v = 0
        for i in range(width):
            byte = data[(bitpos + i) >> 3]
            if (byte >> ((bitpos + i) & 7)) & 1:
                v |= 1 << i
        bitpos += width
        return v

    def reset():
        return (
            {i: (i,) for i in range(clear)},
            min_code_size + 1,
            None,
        )

    table, width, prev = reset()
    while True:
        code = read(width)
        if code is None:
            return None  # ran out of bits before EOI
        if code == clear:
            table, width, prev = reset()
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table.get(code)
            if entry is None:
                return None
        elif code in table:
            entry = table[code]
        elif code == len(table) + 2:  # the KwKwK case
            entry = table[prev] + (table[prev][0],)
        else:
            return None
        out.extend(entry)
        if len(out) > max_pixels:
            return None  # more indices than declared pixels — corrupt
        if prev is not None:
            table[len(table) + 2] = table[prev] + (entry[0],)
        prev = code
        # widen when the NEXT code could address the new entry
        if len(table) + 2 == (1 << width) and width < 12:
            width += 1
    return out


def decode_gif_pixels(payload: bytes) -> Optional[dict]:
    """REAL pixel decode for non-interlaced GIF87a/89a — pure Python:
    walks the block stream to the first image descriptor, LZW-decodes
    the index stream (:func:`_gif_lzw_decode` — GIF's only compression,
    no codec library needed), and maps indices through the local or
    global color table.  Returns ``(width, height, mean_brightness)``
    with ``mean_brightness`` the exact mean over every pixel's R, G and
    B bytes — the same contract as :func:`decode_bmp_pixels` /
    :func:`decode_png_pixels`.

    Interlaced frames are accepted: interlace is a four-pass row
    permutation of the same index stream, and every returned statistic
    is row-order invariant.

    Honest refusals (``None``): a frame smaller than the logical screen
    (partial-frame animations), missing color tables, truncated
    sub-blocks, corrupt LZW streams.
    """
    n = len(payload)
    if n < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    sw, sh = struct.unpack("<HH", payload[6:10])
    packed = payload[10]
    i = 13
    gct = None
    if packed & 0x80:
        size = 3 * (2 << (packed & 0x07))
        gct = payload[13 : 13 + size]
        if len(gct) < size:
            return None
        i = 13 + size
    while i < n:
        b = payload[i]
        if b == 0x21:  # extension: label byte then sub-blocks
            i += 2
            while i < n and payload[i] != 0:
                i += 1 + payload[i]
            i += 1
        elif b == 0x2C:  # image descriptor
            if i + 10 > n:
                return None
            left, top, w, h = struct.unpack("<HHHH", payload[i + 1 : i + 9])
            ipacked = payload[i + 9]
            i += 10
            table = gct
            if ipacked & 0x80:  # local color table
                size = 3 * (2 << (ipacked & 0x07))
                table = payload[i : i + size]
                if len(table) < size:
                    return None
                i += size
            if (
                table is None
                or (left, top) != (0, 0)
                or (w, h) != (sw, sh)  # partial frame (animation)
                or w == 0
                or h == 0
            ):
                return None
            # Interlaced frames (ipacked & 0x40) carry the SAME index
            # stream, stored as a four-pass row permutation (rows
            # 0,8,16,…; 4,12,…; 2,6,…; 1,3,…).  Every statistic this
            # decoder returns — width, height, mean over all pixels —
            # is invariant under row permutation, so interlace needs no
            # special handling here.  (Real-file witness: the two
            # interlaced CPython idlelib icons decode to the same stats
            # either way.)
            if i >= n:
                return None
            min_code = payload[i]
            i += 1
            if not 2 <= min_code <= 11:
                return None
            data = bytearray()
            while i < n and payload[i] != 0:
                ln = payload[i]
                chunk = payload[i + 1 : i + 1 + ln]
                if len(chunk) < ln:
                    return None  # truncated sub-block
                data += chunk
                i += 1 + ln
            if i >= n:
                return None
            idx = _gif_lzw_decode(bytes(data), min_code, w * h)
            if idx is None or len(idx) < w * h:
                return None
            idx = idx[: w * h]
            ncolors = len(table) // 3
            # color-table mapping + sum vectorized (integer-exact, same
            # values as the scalar loop); the LZW decode above stays
            # scalar — codes are inherently serial
            arr = np.asarray(idx, dtype=np.int64)
            if int(arr.max()) >= ncolors:
                return None  # index past the color table — corrupt
            pal = np.frombuffer(bytes(table), np.uint8).astype(np.int64)
            pal_sums = (
                pal[0 : 3 * ncolors : 3]
                + pal[1 : 3 * ncolors : 3]
                + pal[2 : 3 * ncolors : 3]
            )
            total = int(pal_sums[arr].sum())
            return {
                "width": w,
                "height": h,
                # exact integer sum / count: engine-reproducible double
                "mean_brightness": total / (w * h * 3),
            }
        elif b == 0x3B:  # trailer before any image
            return None
        else:
            return None  # unknown block type — no guessing
    return None


def decode_wav_samples(payload: bytes) -> Optional[dict]:
    """REAL sample decode for integer-PCM WAV at 8, 16 or 24 bits —
    numpy-vectorized from the ``data`` chunk.  Returns ``(n_samples,
    mean_amplitude, rms_amplitude)`` computed over every sample (all
    channels interleaved); 16/24-bit samples are little-endian signed,
    8-bit PCM is unsigned with a 128 bias (per the WAV spec) and is
    centered to signed amplitudes here.  Non-PCM / other depths return
    ``None`` — same honest-boundary contract as
    :func:`decode_bmp_pixels`.
    """
    hdr = parse_audio_header(payload)
    if (
        hdr is None
        or hdr["format"] != "wav"
        or hdr.get("audio_format") != 1  # fmt tag 1 = integer PCM only
        or hdr["bits_per_sample"] not in (8, 16, 24)
    ):
        return None
    width = hdr["bits_per_sample"] // 8
    n = len(payload)
    i = 12
    while i + 8 <= n:
        cid = payload[i : i + 4]
        size = struct.unpack("<I", payload[i + 4 : i + 8])[0]
        if cid == b"data":
            raw = payload[i + 8 : i + 8 + size]
            if len(raw) < size or size % width:
                return None  # truncated / ragged data — no guesses
            count = size // width
            if count == 0:
                return None
            # numpy-vectorized sample extraction — integer ops only, so
            # values are identical to the scalar struct/int.from_bytes
            # path this replaces
            if width == 1:
                samples = (
                    np.frombuffer(raw, np.uint8).astype(np.int64) - 128
                )
            elif width == 2:
                samples = np.frombuffer(raw, "<i2").astype(np.int64)
            else:  # 24-bit: 3-byte little-endian two's complement
                b = np.frombuffer(raw, np.uint8).reshape(-1, 3).astype(
                    np.int64
                )
                samples = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
                samples -= (samples & 0x800000) << 1  # sign extend
            # exact integer sums: chunked so each int64 partial stays
            # far from overflow (2^16 samples x 2^46 max square < 2^63),
            # accumulated into unbounded Python ints
            total = 0
            sumsq = 0
            for s in range(0, count, 1 << 16):
                chunk = samples[s : s + (1 << 16)]
                total += int(chunk.sum())
                sumsq += int((chunk * chunk).sum())
            # integer sums are exact; the divisions and sqrt are then
            # deterministic IEEE ops any engine reproduces
            return {
                "n_samples": count,
                "mean_amplitude": total / count,
                "rms_amplitude": (sumsq / count) ** 0.5,
            }
        i += 8 + size + (size & 1)
    return None


#: IMA/DVI ADPCM quantizer step table (89 entries) and index-adjust
#: table — from the public IMA "Recommended Practices for Enhancing
#: Digital Audio Compatibility" (1992) spec; identical constants in
#: every conforming decoder.
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX_ADJ = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_adpcm_decode_block(raw: bytes, channels: int) -> Optional[list]:
    """Decode ONE IMA-ADPCM block to interleaved int16 samples.

    Block layout (WAVE_FORMAT_IMA_ADPCM / DVI, tag 0x11): per channel a
    4-byte header — int16 LE predictor (which IS the first output
    sample), uint8 step-table index, reserved byte — then the nibble
    data in 4-byte-per-channel interleaved groups, LOW nibble first
    within each byte.  The per-nibble recurrence is the published IMA
    one: ``diff = (step >> 3) + (step >> 2 if b0) + (step >> 1 if b1) +
    (step if b2)``, sign bit b3 subtracts, predictor clamps to int16,
    index adjusts by ``_IMA_INDEX_ADJ[n & 7]`` clamped to [0, 88].
    Inherently serial per channel (each step's quantizer depends on the
    previous nibble) — scalar loop like the GIF LZW decoder, documented
    oracle-scale.  Returns ``None`` for malformed headers/sizes.
    """
    hdr_len = 4 * channels
    if len(raw) < hdr_len or (len(raw) - hdr_len) % (4 * channels):
        return None
    preds = []
    idxs = []
    for c in range(channels):
        pred = struct.unpack("<h", raw[4 * c : 4 * c + 2])[0]
        idx = raw[4 * c + 2]
        if idx > 88:
            return None
        preds.append(pred)
        idxs.append(idx)
    # header predictors are the first output frame
    frames = [list(preds)]
    ngroups = (len(raw) - hdr_len) // (4 * channels)
    pos = hdr_len
    for _ in range(ngroups):
        group: list = [[] for _ in range(channels)]
        for c in range(channels):
            for byte in raw[pos : pos + 4]:
                for nib in (byte & 0xF, byte >> 4):
                    step = _IMA_STEPS[idxs[c]]
                    diff = step >> 3
                    if nib & 1:
                        diff += step >> 2
                    if nib & 2:
                        diff += step >> 1
                    if nib & 4:
                        diff += step
                    p = preds[c] + (-diff if nib & 8 else diff)
                    preds[c] = max(-32768, min(32767, p))
                    idxs[c] = max(
                        0, min(88, idxs[c] + _IMA_INDEX_ADJ[nib & 7])
                    )
                    group[c].append(preds[c])
            pos += 4
        # re-interleave the 8-sample-per-channel groups frame-wise
        for k in range(8):
            frames.append([group[c][k] for c in range(channels)])
    out = []
    for fr in frames:
        out.extend(fr)
    return out


def decode_adpcm_samples(payload: bytes) -> Optional[dict]:
    """REAL sample decode for IMA-ADPCM WAV (fmt tag 0x11) — the first
    COMPRESSED audio codec after FLAC, 4:1 lossy nibble coding decoded
    with the published IMA state machine (:func:`_ima_adpcm_decode_block`).
    Blocks are independent (each restarts predictor + step index from
    its own header), so a 100 TB corpus parallelizes per block even
    though nibbles within a block are serial.  Same output contract as
    :func:`decode_wav_samples`; streams whose data chunk is not a whole
    number of ``block_align`` blocks, or with out-of-range step indexes,
    return ``None`` — no guesses.
    """
    hdr = parse_audio_header(payload)
    if (
        hdr is None
        or hdr["format"] != "wav"
        or hdr.get("audio_format") != 0x11
        or hdr["bits_per_sample"] != 4
        or hdr["channels"] not in (1, 2)
    ):
        return None
    channels = hdr["channels"]
    n = len(payload)
    i = 12
    block_align = None
    while i + 8 <= n:
        cid = payload[i : i + 4]
        size = struct.unpack("<I", payload[i + 4 : i + 8])[0]
        if cid == b"fmt " and block_align is None and i + 24 <= n:
            block_align = struct.unpack("<H", payload[i + 20 : i + 22])[0]
        elif cid == b"data":
            raw = payload[i + 8 : i + 8 + size]
            if (
                block_align is None
                or block_align < 4 * channels + 4 * channels
                or len(raw) < size
                or size == 0
                or size % block_align
            ):
                return None
            total = 0
            sumsq = 0
            count = 0
            for b in range(0, size, block_align):
                samples = _ima_adpcm_decode_block(
                    raw[b : b + block_align], channels
                )
                if samples is None:
                    return None
                count += len(samples)
                for s in samples:
                    total += s
                    sumsq += s * s
            if count == 0:
                return None
            return {
                "n_samples": count,
                "mean_amplitude": total / count,
                "rms_amplitude": (sumsq / count) ** 0.5,
            }
        i += 8 + size + (size & 1)
    return None


_PIXEL_SCHEMA = (
    "media_id long, width int, height int, mean_brightness double, "
    "decode_ok boolean"
)


def image_pixel_stats(df: DataFrame, content_column: str = "content") -> DataFrame:
    """Pixel-level image statistics via Arrow-batched ``mapInPandas``.

    REAL decode for uncompressed 24bpp BMP (:func:`decode_bmp_pixels`),
    non-interlaced 8-bit PNG incl. color-type-3 palette via PLTE
    (:func:`decode_png_pixels` — stdlib zlib inflates IDAT, the five
    row filters are undone in pure Python), GIF incl. interlaced frames
    (:func:`decode_gif_pixels` — pure-Python LZW + color-table mapping;
    interlace only permutes rows, which these stats are invariant to)
    AND baseline JPEG at 4:4:4/4:2:2/4:2:0/grayscale sampling
    (:func:`bdq_spark.operators.jpeg.decode_jpeg_pixels` — pure-Python
    huffman + dequant + IDCT + YCbCr; reference-grade, not
    production-speed); out-of-profile variants (progressive or
    arithmetic JPEG, 12-bit precision, sampling factors above 2,
    interlaced/16-bit PNG, animated-partial GIF, truncated or corrupt
    streams, ...) report ``decode_ok=false`` with zeroed stats — a
    fabricated brightness would be worse than an honest refusal.  Same
    batch/partitioning contract as :func:`decode_images`; payload bytes
    are dropped on the way out.
    """

    def decode_any(b) -> Optional[dict]:
        payload = bytes(b) if b is not None else b""
        return (
            decode_bmp_pixels(payload)
            or decode_png_pixels(payload)
            or decode_gif_pixels(payload)
            or decode_jpeg_pixels(payload)
        )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [decode_any(b) for b in pdf[content_column]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [d["width"] if d else 0 for d in out],
                    "height": [d["height"] if d else 0 for d in out],
                    "mean_brightness": [
                        d["mean_brightness"] if d else 0.0 for d in out
                    ],
                    "decode_ok": [d is not None for d in out],
                }
            )

    return df.mapInPandas(stats, schema=_PIXEL_SCHEMA)


def walk_mp3_frames(payload: bytes) -> Optional[dict]:
    """Walk the WHOLE MPEG audio frame chain — exact stream stats
    without any MDCT (the honest-boundary pattern of the MP4 ``mvhd``
    parser): each frame header declares its own byte length
    (``samples/8 * bitrate / sample_rate + padding``; Layer I counts in
    4-byte slots), so chaining headers yields the exact frame count,
    sample count, VBR-correct duration and per-frame bitrate sum with
    pure integer arithmetic — vs :func:`parse_audio_header`'s
    single-header CBR estimate.  What stays stubbed is ONLY
    sample-accurate MP3 PCM (the MDCT filterbank).

    Contract: skips a leading ID3v2 tag; walks while headers parse
    with CONSTANT (version, layer, sample_rate) — a parameter change,
    reserved/free-format header, or non-sync byte ends the chain; a
    final frame whose declared size overruns the payload is NOT
    counted and sets ``truncated``.  Returns ``None`` when no complete
    frame exists (never a guess).  All outputs are engine-exact
    integers, so a SQL oracle can replay the whole walk.
    """
    n = len(payload)
    i = 0
    if payload[:3] == b"ID3" and n >= 10:
        ss = payload[6:10]
        if any(b & 0x80 for b in ss):
            return None  # malformed syncsafe size
        i = 10 + ((ss[0] << 21) | (ss[1] << 14) | (ss[2] << 7) | ss[3])
    start = i
    frames = 0
    total_samples = 0
    bitrate_sum = 0
    stream = None  # (version, layer, sample_rate), fixed by frame 1
    truncated = False
    while i + 4 <= n:
        if not (payload[i] == 0xFF and (payload[i + 1] & 0xE0) == 0xE0):
            break
        h1, h2 = payload[i + 1], payload[i + 2]
        version = (h1 >> 3) & 0x3
        layer = (h1 >> 1) & 0x3
        bitrate_idx = (h2 >> 4) & 0xF
        rate_idx = (h2 >> 2) & 0x3
        pad = (h2 >> 1) & 0x1
        if version == 1 or layer == 0 or bitrate_idx in (0, 15) \
                or rate_idx == 3:
            break  # reserved / free-format: can't size honestly
        sr = _MP3_SAMPLE_RATES[version][rate_idx]
        if stream is None:
            stream = (version, layer, sr)
        elif stream != (version, layer, sr):
            break  # mixed stream parameters: stop, don't guess
        br = _MP3_BITRATES[(version, layer)][bitrate_idx] * 1000
        if layer == 3:  # Layer I: 384 samples, 4-byte slots
            samples = 384
            size = (12 * br // sr + pad) * 4
        else:  # Layer II always 1152; Layer III 1152 (MPEG1) / 576
            samples = 1152 if (layer == 2 or version == 3) else 576
            size = samples // 8 * br // sr + pad
        if i + size > n:
            truncated = True  # header parsed, body overruns: refuse it
            break
        frames += 1
        total_samples += samples
        bitrate_sum += br // 1000
        i += size
    if frames == 0:
        return None
    return {
        "format": "mp3",
        "frames": frames,
        "sample_rate": stream[2],
        "total_samples": total_samples,
        "duration_ms": total_samples * 1000 // stream[2],
        "bitrate_sum_kbps": bitrate_sum,
        "bytes_consumed": i - start,
        "trailing_bytes": n - i,
        "truncated": truncated,
    }


_STREAM_SCHEMA = (
    "media_id long, format string, frames int, sample_rate int, "
    "total_samples bigint, duration_ms bigint, bitrate_sum_kbps bigint, "
    "bytes_consumed bigint, trailing_bytes bigint, truncated boolean, "
    "decode_ok boolean"
)


def audio_stream_stats(
    df: DataFrame, content_column: str = "content"
) -> DataFrame:
    """Frame-chain stream statistics via Arrow-batched ``mapInPandas``
    — the header-arithmetic sibling of :func:`audio_pcm_stats` for
    formats whose SAMPLES we refuse to synthesize: walks every MP3
    frame header (:func:`walk_mp3_frames`) for exact frame count /
    sample count / VBR duration / bitrate sum; non-MP3 or headerless
    payloads report ``decode_ok=false`` with zeroed stats.  Same batch
    contract as :func:`decode_audio` (streamed Arrow batches, bytes
    never all resident)."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                walk_mp3_frames(bytes(b) if b is not None else b"")
                for b in pdf[content_column]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "format": [d["format"] if d else None for d in out],
                    "frames": [d["frames"] if d else 0 for d in out],
                    "sample_rate": [
                        d["sample_rate"] if d else 0 for d in out
                    ],
                    "total_samples": [
                        d["total_samples"] if d else 0 for d in out
                    ],
                    "duration_ms": [
                        d["duration_ms"] if d else 0 for d in out
                    ],
                    "bitrate_sum_kbps": [
                        d["bitrate_sum_kbps"] if d else 0 for d in out
                    ],
                    "bytes_consumed": [
                        d["bytes_consumed"] if d else 0 for d in out
                    ],
                    "trailing_bytes": [
                        d["trailing_bytes"] if d else 0 for d in out
                    ],
                    "truncated": [
                        bool(d["truncated"]) if d else False for d in out
                    ],
                    "decode_ok": [d is not None for d in out],
                }
            )

    return df.mapInPandas(stats, schema=_STREAM_SCHEMA)


_PCM_SCHEMA = (
    "media_id long, n_samples bigint, mean_amplitude double, "
    "rms_amplitude double, decode_ok boolean"
)


def audio_pcm_stats(df: DataFrame, content_column: str = "content") -> DataFrame:
    """Sample-level audio statistics via Arrow-batched ``mapInPandas``.

    REAL decode for 8/16/24-bit integer-PCM WAV
    (:func:`decode_wav_samples`), IMA-ADPCM WAV
    (:func:`decode_adpcm_samples` — compressed 4-bit nibble coding,
    published IMA state machine) AND in-profile FLAC
    (:func:`bdq_spark.operators.flac.decode_flac_samples` — FLAC is
    lossless integer coding, so rice residuals + predictors decode in
    pure Python, no codec library); MP3 and out-of-profile streams
    report ``decode_ok=false`` with zeroed stats.  Same contract as
    :func:`decode_audio`.
    """

    def decode_any(b) -> Optional[dict]:
        payload = bytes(b) if b is not None else b""
        return (
            decode_wav_samples(payload)
            or decode_adpcm_samples(payload)
            or decode_flac_samples(payload)
        )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [decode_any(b) for b in pdf[content_column]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_samples": [d["n_samples"] if d else 0 for d in out],
                    "mean_amplitude": [
                        d["mean_amplitude"] if d else 0.0 for d in out
                    ],
                    "rms_amplitude": [
                        d["rms_amplitude"] if d else 0.0 for d in out
                    ],
                    "decode_ok": [d is not None for d in out],
                }
            )

    return df.mapInPandas(stats, schema=_PCM_SCHEMA)


def _decode_image_bytes(payload: bytes) -> dict:
    """Decode image dimensions: PIL when installed (full decode), else
    :func:`parse_image_header` (pure-Python header parse — real
    dimensions for PNG/JPEG/GIF/BMP/WebP, no codec dependency).
    Unrecognized bytes return ``ok=False`` — never a fabricated size.
    """
    if payload:
        try:  # pragma: no cover - PIL not in this container
            import io

            from PIL import Image

            img = Image.open(io.BytesIO(payload))
            return {
                "width": img.width,
                "height": img.height,
                "channels": len(img.getbands()),
                "ok": True,
            }
        except ImportError:
            pass
        except Exception:
            # PIL present but payload undecodable by it — fall through
            # to the header parse (e.g. valid header, truncated body)
            pass
        parsed = parse_image_header(payload)
        if parsed is not None:
            return {
                "width": parsed["width"],
                "height": parsed["height"],
                "channels": parsed["channels"],
                "ok": True,
            }
    return {"width": 0, "height": 0, "channels": 0, "ok": False}


def attach_media_metadata(
    df: DataFrame,
    content_column: str = "content",
    media_type: str = "image",
    mime: str = "application/octet-stream",
    id_column: str = None,
) -> DataFrame:
    """Wrap a binary column into the canonical media bundle columns."""
    out = df
    if id_column is None:
        out = out.withColumn(
            "media_id", F.monotonically_increasing_id()
        )
    else:
        out = out.withColumn("media_id", F.col(id_column).cast("long"))
    return out.select(
        "media_id",
        F.lit(media_type).alias("media_type"),
        F.lit(mime).alias("mime"),
        F.create_map(
            F.lit("size_bytes"),
            F.length(F.col(content_column)).cast("string"),
        ).alias("meta"),
        F.col(content_column).alias("content"),
    )


_DECODED_SCHEMA = (
    "media_id long, width int, height int, channels int, decode_ok boolean"
)


def decode_images(df: DataFrame, content_column: str = "content") -> DataFrame:
    """Decode image dimensions via Arrow-batched ``mapInPandas``.

    Output: ``media_id, width, height, channels, decode_ok`` — payload
    bytes are dropped on the way out so downstream stages shuffle only
    metadata.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [
                _decode_image_bytes(bytes(b) if b is not None else b"")
                for b in pdf[content_column]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [d["width"] for d in decoded],
                    "height": [d["height"] for d in decoded],
                    "channels": [d["channels"] for d in decoded],
                    "decode_ok": [d["ok"] for d in decoded],
                }
            )

    return df.mapInPandas(decode, schema=_DECODED_SCHEMA)


_FEATURES_SCHEMA = "media_id long, feature array<float>"


def extract_image_features(
    df: DataFrame, content_column: str = "content", dim: int = 16
) -> DataFrame:
    """STUB feature extractor (real impl: a vision model over the batch).

    The fake projects payload bytes into a deterministic ``dim``-float
    vector (byte histogram folded to ``dim`` buckets, L1-normalized) —
    shape-compatible with a real embedding so downstream ANN operators
    (`bdq_spark.operators.similarity`) can run on the output unchanged.
    """

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for b in pdf[content_column]:
                raw = bytes(b) if b is not None else b""
                hist = [0.0] * dim
                for byte in raw:
                    hist[byte % dim] += 1.0
                total = sum(hist) or 1.0
                feats.append([v / total for v in hist])
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "feature": feats}
            )

    return df.mapInPandas(featurize, schema=_FEATURES_SCHEMA)


def parse_video_header(payload: bytes) -> Optional[dict]:
    """Parse (format, width, height, duration_ms, n_frames) from real
    video CONTAINER headers — pure Python, no codec library: the
    container structure (ISO-BMFF boxes, RIFF chunks) is plain length-
    prefixed framing, only the codec payloads inside need ffmpeg.

    Supported: MP4/ISO-BMFF (box walk to ``moov/mvhd`` for timescale/
    duration and ``trak/tkhd`` for track dimensions) and AVI (RIFF walk
    to the ``avih`` main header: frame interval, total frames, dims).
    ``n_frames`` is 0 where the container does not declare it (MP4
    stores per-track sample tables; the mandatory mvhd duration is the
    honest summary).  Returns ``None`` for anything unrecognized or
    truncated.
    """
    n = len(payload)
    if n < 16:
        return None
    # AVI: RIFF container with form type "AVI "
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        # walk top-level and hdrl-list chunks for avih
        def find_avih(i, end):
            while i + 8 <= end:
                cid = payload[i : i + 4]
                size = struct.unpack("<I", payload[i + 4 : i + 8])[0]
                if cid == b"LIST" and i + 12 <= end:
                    if payload[i + 8 : i + 12] == b"hdrl":
                        r = find_avih(i + 12, min(end, i + 8 + size))
                        if r is not None:
                            return r
                elif cid == b"avih":
                    return payload[i + 8 : i + 8 + size]
                i += 8 + size + (size & 1)
            return None

        avih = find_avih(12, n)
        if avih is None or len(avih) < 40:
            return None
        us_per_frame, _maxrate, _pad, _flags, total_frames = struct.unpack(
            "<IIIII", avih[0:20]
        )
        width, height = struct.unpack("<II", avih[32:40])
        return {
            "format": "avi",
            "width": width,
            "height": height,
            "duration_ms": us_per_frame * total_frames // 1000,
            "n_frames": total_frames,
        }
    # MP4 / ISO-BMFF: size-prefixed boxes; ftyp first in practice
    if payload[4:8] == b"ftyp":

        def walk(i, end, path):
            """Yield (type, body_start, body_end) for boxes at one level."""
            out = []
            while i + 8 <= end:
                size = struct.unpack(">I", payload[i : i + 4])[0]
                typ = payload[i + 4 : i + 8]
                body = i + 8
                if size == 1:  # 64-bit largesize
                    if i + 16 > end:
                        break
                    size = struct.unpack(">Q", payload[i + 8 : i + 16])[0]
                    body = i + 16
                elif size == 0:  # box extends to EOF
                    size = end - i
                if size < 8 or i + size > end:
                    break
                out.append((typ, body, i + size))
                i += size
            return out

        boxes = walk(0, n, ())
        moov = next((b for b in boxes if b[0] == b"moov"), None)
        if moov is None:
            return None
        duration_ms = 0
        width = height = 0
        for typ, s, e in walk(moov[1], moov[2], ("moov",)):
            if typ == b"mvhd" and e - s >= 20:
                ver = payload[s]
                # version-1 mvhd: 64-bit duration ends at s+32, so the
                # body must hold ≥32 bytes (a 28..31-byte body would read
                # past the box end / raise on a truncated payload)
                if ver == 1:
                    if e - s < 32:
                        continue  # truncated v1 box: don't misread as v0
                    timescale = struct.unpack(">I", payload[s + 20 : s + 24])[0]
                    duration = struct.unpack(">Q", payload[s + 24 : s + 32])[0]
                else:
                    timescale = struct.unpack(">I", payload[s + 12 : s + 16])[0]
                    duration = struct.unpack(">I", payload[s + 16 : s + 20])[0]
                if timescale:
                    duration_ms = duration * 1000 // timescale
            elif typ == b"trak":
                for t2, s2, e2 in walk(s, e, ("moov", "trak")):
                    if t2 == b"tkhd":
                        ver = payload[s2]
                        off = s2 + (96 if ver == 1 else 84) - 8
                        if e2 - off >= 8:
                            w = struct.unpack(">I", payload[off : off + 4])[0]
                            h = struct.unpack(">I", payload[off + 4 : off + 8])[0]
                            # 16.16 fixed point; audio tracks are 0x0
                            if w and h:
                                width, height = w >> 16, h >> 16
        return {
            "format": "mp4",
            "width": width,
            "height": height,
            "duration_ms": duration_ms,
            "n_frames": 0,  # MP4 declares samples per track, not globally
        }
    return None


def extract_avi_frames(
    payload: bytes, every_n: int = 1, max_frames: int = 1_000_000
) -> Optional[list]:
    """REAL frame extraction for AVI — pure Python RIFF walk to the
    ``movi`` list, returning every ``every_n``-th video chunk
    (``##db``/``##dc``) as ``(frame_idx, bytes)``.  For MJPEG AVIs each
    returned frame is a complete JPEG image — genuine frame sampling
    with no codec library (decoding the frame PIXELS still needs one).
    Returns ``None`` if the payload is not an AVI or has no movi list;
    a truncated chunk ends the walk at the last complete frame.
    """
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return None
    n = len(payload)

    def find_movi(i, end):
        while i + 8 <= end:
            cid = payload[i : i + 4]
            size = struct.unpack("<I", payload[i + 4 : i + 8])[0]
            if cid == b"LIST" and i + 12 <= end:
                if payload[i + 8 : i + 12] == b"movi":
                    return i + 12, min(end, i + 8 + size)
                r = find_movi(i + 12, min(end, i + 8 + size))
                if r is not None:
                    return r
            i += 8 + size + (size & 1)
        return None

    span = find_movi(12, n)
    if span is None:
        return None
    i, end = span
    out = []
    idx = 0
    while i + 8 <= end and len(out) < max_frames:
        cid = payload[i : i + 4]
        size = struct.unpack("<I", payload[i + 4 : i + 8])[0]
        if i + 8 + size > end:
            break  # truncated chunk — stop at the last complete frame
        # video stream chunks: stream number (2 ASCII digits) + db/dc
        if (
            cid[:2].isdigit()
            and cid[2:4] in (b"db", b"dc")
        ):
            if idx % every_n == 0:
                out.append((idx, payload[i + 8 : i + 8 + size]))
            idx += 1
        i += 8 + size + (size & 1)
    return out


_VIDEO_SCHEMA = (
    "media_id long, format string, width int, height int, "
    "duration_ms bigint, n_frames bigint, decode_ok boolean"
)


def decode_video(df: DataFrame, content_column: str = "content") -> DataFrame:
    """Decode video container metadata via Arrow-batched ``mapInPandas``
    — the video sibling of :func:`decode_images` / :func:`decode_audio`;
    same partitioning and batch-shape contract.  REAL container parse
    (:func:`parse_video_header`); only codec-payload decode remains
    stubbed elsewhere."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = [
                parse_video_header(bytes(b) if b is not None else b"")
                for b in pdf[content_column]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "format": [p["format"] if p else None for p in parsed],
                    "width": [p["width"] if p else 0 for p in parsed],
                    "height": [p["height"] if p else 0 for p in parsed],
                    "duration_ms": [
                        p["duration_ms"] if p else 0 for p in parsed
                    ],
                    "n_frames": [p["n_frames"] if p else 0 for p in parsed],
                    "decode_ok": [p is not None for p in parsed],
                }
            )

    # see video_pixel_stats: ship only what the parser reads
    return df.select("media_id", content_column).mapInPandas(
        decode, schema=_VIDEO_SCHEMA
    )


_FRAMES_SCHEMA = "media_id long, frame_idx int, frame binary"


def sample_container_frames(
    df: DataFrame, content_column: str = "content", every_n: int = 1
) -> DataFrame:
    """REAL frame sampling for AVI containers via Arrow-batched
    ``mapInPandas``: every ``every_n``-th video chunk from the ``movi``
    list becomes one output row ``(media_id, frame_idx, frame)`` —
    for MJPEG AVIs each ``frame`` is a complete JPEG whose dimensions
    :func:`parse_image_header` can then read.  Non-AVI payloads emit no
    rows (count the output against :func:`decode_video`'s ``n_frames``
    to see refusals).  Same fan-out shape as the byte-slice stub
    :func:`sample_video_frames`, which remains for codecs this cannot
    walk."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: List[int] = []
            idxs: List[int] = []
            frames: List[bytes] = []
            for mid, b in zip(pdf["media_id"], pdf[content_column]):
                got = extract_avi_frames(
                    bytes(b) if b is not None else b"", every_n=every_n
                )
                for idx, fr in got or []:
                    ids.append(mid)
                    idxs.append(idx)
                    frames.append(fr)
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame": frames}
            )

    # see video_pixel_stats: ship only what the sampler reads
    return df.select("media_id", content_column).mapInPandas(
        sample, schema=_FRAMES_SCHEMA
    )


_VIDEO_PIXEL_SCHEMA = (
    "media_id long, frame_idx int, width int, height int, "
    "mean_brightness double, decode_ok boolean"
)


def _avi_vids_strf(payload: bytes) -> Optional[dict]:
    """BITMAPINFOHEADER of the first ``vids`` stream in an AVI's header
    list (``hdrl`` → ``strl`` → ``strh``/``strf``), or ``None``.  This
    is what raw (uncompressed) frame chunks need for decoding: the
    chunk bytes themselves carry no dimensions or layout."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return None
    n = len(payload)

    def walk(i, end, want):
        while i + 8 <= end:
            cid = payload[i : i + 4]
            size = struct.unpack("<I", payload[i + 4 : i + 8])[0]
            if cid == b"LIST" and i + 12 <= end:
                r = walk(i + 12, min(end, i + 8 + size), want)
                if r is not None:
                    return r
            elif cid == want:
                return payload[i + 8 : i + 8 + size]
            i += 8 + size + (size & 1)
        return None

    # find each strl; the one whose strh says 'vids' owns the strf
    def find_vids_strf(i, end):
        while i + 8 <= end:
            cid = payload[i : i + 4]
            size = struct.unpack("<I", payload[i + 4 : i + 8])[0]
            if cid == b"LIST" and i + 12 <= end:
                sub_end = min(end, i + 8 + size)
                if payload[i + 8 : i + 12] == b"strl":
                    strh = walk(i + 12, sub_end, b"strh")
                    if strh is not None and strh[:4] == b"vids":
                        return walk(i + 12, sub_end, b"strf")
                else:
                    r = find_vids_strf(i + 12, sub_end)
                    if r is not None:
                        return r
            i += 8 + size + (size & 1)
        return None

    strf = find_vids_strf(12, n)
    if strf is None or len(strf) < 20:
        return None
    w, h = struct.unpack("<ii", strf[4:12])
    bit_count = struct.unpack("<H", strf[14:16])[0]
    compression = struct.unpack("<I", strf[16:20])[0]
    # palettized formats carry RGBQUAD entries right after the 40-byte
    # BITMAPINFOHEADER; biClrUsed == 0 means the full 2^bpp table
    palette = None
    if bit_count <= 8 and len(strf) >= 40:
        clr_used = (
            struct.unpack("<I", strf[32:36])[0]
            if len(strf) >= 36
            else 0
        )
        ncolors = clr_used or (1 << bit_count)
        if len(strf) >= 40 + 4 * ncolors:
            palette = strf[40 : 40 + 4 * ncolors]
    return {
        "width": w,
        "height": h,
        "bit_count": bit_count,
        "compression": compression,
        "palette": palette,
    }


def decode_dib_frame(frame: bytes, strf: Optional[dict]) -> Optional[dict]:
    """REAL pixel decode for an uncompressed (BI_RGB) 24bpp AVI video
    frame chunk: raw bottom-up BGR rows padded to 4 bytes, dimensions
    from the stream's BITMAPINFOHEADER (:func:`_avi_vids_strf`) —
    the ``biCompression == 0`` raw-video case, the second real codec
    after MJPEG.  Top-down frames (negative ``biHeight``) decode too:
    row order cannot change row-invariant stats.  Returns the
    ``image_pixel_stats`` dict or ``None`` (wrong size / out of
    profile), mean over every B, G and R byte with padding excluded."""
    if (
        strf is None
        or strf["compression"] != 0
        or strf["bit_count"] != 24
        or strf["width"] <= 0
        or strf["height"] == 0
    ):
        return None
    w = strf["width"]
    h = abs(strf["height"])
    stride = (w * 3 + 3) & ~3
    if len(frame) != stride * h:
        return None  # ragged/truncated raw frame — no guesses
    arr = np.frombuffer(frame, np.uint8).reshape(h, stride)[:, : w * 3]
    return {
        "width": w,
        "height": h,
        "mean_brightness": int(
            arr.astype(np.int64).sum()
        ) / (w * h * 3),
    }


def decode_rle8_frame(frame: bytes, strf: Optional[dict]) -> Optional[dict]:
    """REAL pixel decode for a Microsoft RLE8 (``biCompression == 1``,
    8bpp palettized) AVI video frame — the first COMPRESSED video codec
    after MJPEG, decoded from the public BMP/AVI RLE8 spec: the stream
    is (count, index) run pairs with escape pairs ``(0,0)`` end-of-line,
    ``(0,1)`` end-of-bitmap, ``(0,2)`` position delta and ``(0,n>=3)``
    absolute runs (literal indices, word-aligned).  Rows are bottom-up,
    but these stats are row-order invariant.

    STRICT profile for exactness: every pixel must be written exactly
    once (delta escapes and short rows leave pixels UNDEFINED by the
    spec — a decoder that zero-fills would fabricate brightness), so
    frames using deltas, overrunning a row, or ending before ``w*h``
    pixels return ``None``.  Mean brightness maps indices through the
    stream's RGBQUAD palette (:func:`_avi_vids_strf`), averaging the
    R, G and B bytes of every pixel — same contract as
    :func:`decode_gif_pixels`'s palette path.
    """
    if (
        strf is None
        or strf["compression"] != 1
        or strf["bit_count"] != 8
        or not strf.get("palette")
        or strf["width"] <= 0
        or strf["height"] <= 0  # RLE8 is bottom-up only (spec)
    ):
        return None
    w, h = strf["width"], strf["height"]
    pal = strf["palette"]
    ncolors = len(pal) // 4
    indices = np.zeros(w * h, np.uint8)
    x = 0
    y = 0
    i = 0
    n = len(frame)
    done = False
    while i + 2 <= n:
        c, v = frame[i], frame[i + 1]
        i += 2
        if c > 0:  # encoded run
            if y >= h or x + c > w:
                return None
            indices[y * w + x : y * w + x + c] = v
            x += c
        elif v == 0:  # end of line
            if x != w:
                return None  # short row: undefined pixels — refuse
            x = 0
            y += 1
        elif v == 1:  # end of bitmap
            if not (x == 0 and y == h) and not (x == w and y == h - 1):
                return None  # incomplete frame
            done = True
            break
        elif v == 2:  # delta: skipped pixels are undefined — refuse
            return None
        else:  # absolute run of v literal indices, word-aligned
            if y >= h or x + v > w or i + v > n:
                return None
            indices[y * w + x : y * w + x + v] = np.frombuffer(
                frame[i : i + v], np.uint8
            )
            x += v
            i += v + (v & 1)
    if not done or int(indices.max()) >= ncolors:
        return None
    palarr = np.frombuffer(pal, np.uint8).reshape(-1, 4).astype(np.int64)
    pal_sums = palarr[:, 0] + palarr[:, 1] + palarr[:, 2]  # B+G+R
    total = int(pal_sums[indices].sum())
    return {
        "width": w,
        "height": h,
        "mean_brightness": total / (w * h * 3),
    }


def video_pixel_stats(
    df: DataFrame, content_column: str = "content", every_n: int = 1
) -> DataFrame:
    """REAL per-frame pixel statistics for MJPEG, RAW (BI_RGB 24bpp)
    and RLE-compressed (BI_RLE8 palettized) AVI videos via Arrow-batched
    ``mapInPandas``:
    :func:`extract_avi_frames` walks the container (every ``every_n``-th
    video chunk); a frame that starts with a JPEG SOI goes through
    :func:`bdq_spark.operators.jpeg.decode_jpeg_pixels`, anything else
    dispatches on the stream's ``biCompression``: the uncompressed-DIB
    profile (:func:`decode_dib_frame`) or the Microsoft RLE8 decoder
    (:func:`decode_rle8_frame`), dimensions and palette from the
    BITMAPINFOHEADER via :func:`_avi_vids_strf`.
    One output row per sampled frame,
    ``image_pixel_stats``'s contract per frame: out-of-profile or
    corrupt frames report ``decode_ok=false`` with zeroed stats.
    Non-AVI payloads (or AVIs without a ``movi`` list) emit NO rows —
    count against :func:`decode_video`'s ``n_frames`` to see refusals,
    same as :func:`sample_container_frames`.  COMPRESSED non-MJPEG
    codecs (cinepak, h264, ...) land as per-frame refusals, the honest
    boundary.  Scale shape: one pass, no shuffle, bounded per-batch
    memory; decode throughput is the documented oracle-scale constant
    factor."""
    from bdq_spark.operators.jpeg import decode_jpeg_pixels

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: List[tuple] = []
            for mid, b in zip(pdf["media_id"], pdf[content_column]):
                payload = bytes(b) if b is not None else b""
                got = extract_avi_frames(payload, every_n=every_n)
                strf = _avi_vids_strf(payload) if got else None
                for idx, fr in got or []:
                    # MJPEG frames are complete JPEGs (SOI first);
                    # anything else tries the stream-format profiles
                    # (mutually exclusive on strf.biCompression)
                    d = (
                        decode_jpeg_pixels(fr)
                        if fr[:2] == b"\xff\xd8"
                        else (
                            decode_dib_frame(fr, strf)
                            or decode_rle8_frame(fr, strf)
                        )
                    )
                    if d is None:
                        rows.append((mid, idx, 0, 0, 0.0, False))
                    else:
                        rows.append(
                            (mid, idx, d["width"], d["height"],
                             d["mean_brightness"], True)
                        )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "width", "height",
                         "mean_brightness", "decode_ok"],
            )

    # project to exactly the two columns the decoder touches BEFORE the
    # Python boundary: mapInPandas is opaque to the optimizer, so
    # without this every media column (mime, meta, ...) is computed and
    # shipped across Arrow for nothing
    return df.select("media_id", content_column).mapInPandas(
        stats, schema=_VIDEO_PIXEL_SCHEMA
    )


def sample_video_frames(
    df: DataFrame, content_column: str = "content", every_n_bytes: int = 1024
) -> DataFrame:
    """STUB frame sampler (real impl: ffmpeg/pyav keyframe extraction) —
    for CONTAINERS this library can walk, use the REAL
    :func:`sample_container_frames` instead (AVI movi chunks are actual
    codec frames; only non-walkable formats need this fake).

    The fake emits one "frame" (a byte slice) per ``every_n_bytes`` of
    payload — exercising the one-row-to-many-rows fan-out shape that real
    frame sampling produces, including the empty-payload edge case.
    """

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: List[int] = []
            idxs: List[int] = []
            frames: List[bytes] = []
            for mid, b in zip(pdf["media_id"], pdf[content_column]):
                raw = bytes(b) if b is not None else b""
                for i in range(0, len(raw), every_n_bytes):
                    ids.append(mid)
                    idxs.append(i // every_n_bytes)
                    frames.append(raw[i : i + every_n_bytes])
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return df.mapInPandas(sample, schema=_FRAMES_SCHEMA)
