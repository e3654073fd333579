"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Convention: a modality column is ``content BINARY`` plus a metadata struct
(``mime STRING, width INT, height INT, duration_ms BIGINT, ...``).  Ops are
Arrow-batched ``mapInPandas`` transforms so the binary payloads never leave
the executors and batches amortize the Python boundary.

Decode tiers (all pure functions of the bytes — replayable):

- **Real, stdlib-only**: container/geometry parsing for PNG, GIF, BMP and
  JPEG (magic sniff + header walk), full PCM decode for WAV (``wave`` +
  ``struct``), real per-channel pixel statistics for uncompressed 24-bit
  BMP AND for 8-bit non-interlaced PNG (zlib inflate + full
  None/Sub/Up/Average/Paeth filter reconstruction, :func:`_png_pixels`).
- **Optional import**: Pillow (``PIL.Image``) upgrades geometry + pixel
  stats to every format it supports; absent in this container.
- **Deterministic fake**: feature vectors for compressed payloads the
  stdlib can't decode (md5-derived, clearly marked) — swap for a vision /
  audio encoder in production.

The Spark-side plumbing (schemas, partitioning, UDF signatures, batch
shapes) is real and tested in every tier.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

IMAGE_FEATURES_SCHEMA = (
    "id string, mime string, width int, height int, feat array<float>"
)


try:  # optional full-fidelity tier
    from PIL import Image as _PILImage  # pragma: no cover - not installed here
except Exception:
    _PILImage = None


def _jpeg_dimensions(content: bytes) -> tuple[int, int] | None:
    """Walk JPEG markers to the SOFn segment: payload is
    (precision u8, height u16be, width u16be)."""
    import struct

    i = 2
    while i + 9 < len(content):
        if content[i] != 0xFF:
            return None
        marker = content[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:  # no payload
            i += 2
            continue
        (seglen,) = struct.unpack(">H", content[i + 2 : i + 4])
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):  # SOFn
            h, w = struct.unpack(">HH", content[i + 5 : i + 9])
            return w, h
        i += 2 + seglen
    return None


def _decode_image(content: bytes, use_pillow: bool = True) -> tuple[str, int, int]:
    """Image container decode: REAL header parsing for PNG/GIF/BMP/JPEG
    (stdlib struct walks, no imaging libs needed), Pillow when installed
    for everything else, md5-derived FAKE geometry as the last resort so
    unknown payloads still flow through the pipeline deterministically.

    ``use_pillow=False`` skips the optional-Pillow probe so the output is
    a pure function of the bytes IN EVERY ENVIRONMENT — the hash-checked
    contract queries need this: Pillow can open ASCII formats (PNM 'P1'..
    'P6', XBM) that the magic-prefix exclusion filter can't cheaply
    enumerate, and a Pillow-equipped environment would otherwise diverge
    from the md5-fake oracle (ADVICE r3, low)."""
    import struct

    try:
        if content[:8] == b"\x89PNG\r\n\x1a\n" and len(content) >= 24:
            w, h = struct.unpack(">II", content[16:24])  # IHDR
            return "image/png", w, h
        if content[:6] in (b"GIF87a", b"GIF89a") and len(content) >= 10:
            w, h = struct.unpack("<HH", content[6:10])
            return "image/gif", w, h
        if content[:2] == b"BM" and len(content) >= 26:
            w, h = struct.unpack("<ii", content[18:26])  # BITMAPINFOHEADER
            return "image/bmp", abs(w), abs(h)
        if content[:3] == b"\xff\xd8\xff":
            dims = _jpeg_dimensions(content)
            if dims:
                return "image/jpeg", dims[0], dims[1]
            mime = "image/jpeg"
        elif content[:5] == b"%PDF-":
            mime = "application/pdf"
        else:
            mime = "application/octet-stream"
    except struct.error:
        mime = "application/octet-stream"
    if use_pillow and _PILImage is not None:  # pragma: no cover - lib absent here
        try:
            import io

            with _PILImage.open(io.BytesIO(content)) as im:
                return mime if mime != "application/octet-stream" else (
                    f"image/{(im.format or 'unknown').lower()}"
                ), im.width, im.height
        except Exception:
            pass
    # FAKE tier: md5-derived geometry, reproducible everywhere
    import hashlib

    h = hashlib.md5(content).digest()
    return mime, 64 + h[0] % 192, 64 + h[1] % 192


def _bmp_pixels(content: bytes) -> tuple[int, int, int, bytes] | None:
    """REAL stdlib decode for uncompressed 24-bit BMP — the BMP
    counterpart of :func:`_png_pixels`, and the ONE copy of the BMP
    header/padding/orientation logic (round-13 review: the glyph-OCR
    tier had grown a second copy).  Returns ``(width, height, 3,
    top-down RGB scanline bytes)``: the default bottom-up row order is
    flipped to top-down, negative height (already top-down) is kept."""
    import struct

    try:
        if content[:2] != b"BM" or len(content) < 54:
            return None
        (offset,) = struct.unpack("<I", content[10:14])
        w, h = struct.unpack("<ii", content[18:26])
        (bpp,) = struct.unpack("<H", content[28:30])
        (compression,) = struct.unpack("<I", content[30:34])
        if bpp != 24 or compression != 0 or w <= 0 or h == 0:
            return None
        height, bottom_up = abs(h), h > 0
        row_bytes = (w * 3 + 3) & ~3  # rows pad to 4 bytes
        if offset + row_bytes * height > len(content):
            return None
        out = bytearray(w * height * 3)
        for y in range(height):
            base = offset + (height - 1 - y if bottom_up else y) * row_bytes
            o = y * w * 3
            for x in range(w):
                b, g, r = content[base + 3 * x : base + 3 * x + 3]
                out[o + 3 * x] = r
                out[o + 3 * x + 1] = g
                out[o + 3 * x + 2] = b
        return w, height, 3, bytes(out)
    except (struct.error, IndexError, ValueError):
        return None


def _stats_from_decoded(
    decoded: tuple[int, int, int, bytes] | None,
) -> list[float] | None:
    """Per-channel means in [0, 1] + grayscale std over decoded pixels —
    the ONE copy of the stats reduction shared by the BMP and PNG stats
    wrappers (gray/gray+alpha payloads replicate the luma across the RGB
    slots; alpha never enters the statistics)."""
    if decoded is None:
        return None
    w, h, ch, raw = decoded
    color = 3 if ch >= 3 else 1
    n = w * h
    sums = [0, 0, 0]
    sq = 0.0
    for px in range(n):
        base = px * ch
        if color == 3:
            r, g, b = raw[base], raw[base + 1], raw[base + 2]
        else:
            r = g = b = raw[base]
        sums[0] += r
        sums[1] += g
        sums[2] += b
        gray = (r + g + b) / (3 * 255.0)
        sq += gray * gray
    mr, mg, mb = (s / (n * 255.0) for s in sums)
    mean_gray = (sums[0] + sums[1] + sums[2]) / (3 * n * 255.0)
    var = max(0.0, sq / n - mean_gray * mean_gray)
    return [mr, mg, mb, var**0.5]


def _bmp_pixel_stats(content: bytes) -> list[float] | None:
    """REAL pixel statistics for uncompressed 24-bit BMP: per-channel means
    in [0, 1] + grayscale std — the honest feature prefix for payloads the
    stdlib can fully decode."""
    return _stats_from_decoded(_bmp_pixels(content))


def _png_pixels(content: bytes) -> tuple[int, int, int, bytes] | None:
    """REAL stdlib PNG decode: chunk walk + zlib inflate + full filter
    reconstruction (None/Sub/Up/Average/Paeth, RFC 2083 §6) for 8-bit
    non-interlaced grayscale / RGB / gray+alpha / RGBA — the common
    lossless cases.  Returns ``(width, height, channels, raw)`` where
    ``raw`` is the unfiltered scanline bytes, or ``None`` for anything the
    tier doesn't cover (16-bit, palette, interlaced — Pillow territory).
    Pure function of the bytes; the per-pixel loop is the price of a
    zero-dependency honest decode (same trade as ``_bmp_pixel_stats``) —
    production swaps the Pillow tier in for throughput."""
    import struct
    import zlib

    try:
        if content[:8] != b"\x89PNG\r\n\x1a\n":
            return None
        i, ihdr, idat = 8, None, b""
        while i + 8 <= len(content):
            ln, typ = struct.unpack(">I4s", content[i : i + 8])
            data = content[i + 8 : i + 8 + ln]
            if typ == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", data)
            elif typ == b"IDAT":
                idat += data
            elif typ == b"IEND":
                break
            i += 12 + ln
        if ihdr is None or not idat:
            return None
        w, h, bits, ctype, comp, filt, interlace = ihdr
        if bits != 8 or comp or filt or interlace or ctype not in (0, 2, 4, 6):
            return None
        ch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
        raw = zlib.decompress(idat)
        stride = w * ch
        # `not h` matters: a well-formed PNG declaring height=0 with an
        # empty IDAT passes the length check (0 == 0) and would surface a
        # zero-pixel image, dividing `_png_pixel_stats` by zero instead of
        # degrading to the fake tier (ADVICE r7).
        if len(raw) != (stride + 1) * h or not stride or not h:
            return None
        out = bytearray(stride * h)
        for y in range(h):
            f = raw[y * (stride + 1)]
            line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
            o = y * stride
            for x in range(stride):
                a = out[o + x - ch] if x >= ch else 0
                b = out[o - stride + x] if y > 0 else 0
                if f == 0:
                    v = line[x]
                elif f == 1:
                    v = line[x] + a
                elif f == 2:
                    v = line[x] + b
                elif f == 3:
                    v = line[x] + (a + b) // 2
                elif f == 4:
                    c = out[o - stride + x - ch] if (y > 0 and x >= ch) else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    v = line[x] + pred
                else:
                    return None
                out[o + x] = v & 0xFF
        return w, h, ch, bytes(out)
    except (struct.error, zlib.error, IndexError, ValueError):
        return None


def _png_pixel_stats(content: bytes) -> list[float] | None:
    """Per-channel means in [0, 1] + grayscale std from the REAL stdlib
    PNG decode (:func:`_png_pixels`) — the same feature prefix shape as
    :func:`_bmp_pixel_stats` (shared reduction)."""
    return _stats_from_decoded(_png_pixels(content))


def make_minimal_png(
    width: int = 4,
    height: int = 4,
    rgb: tuple[int, int, int] | None = (0, 0, 0),
    rows: list[bytes] | None = None,
    filter_type: int = 0,
) -> bytes:
    """Well-formed 8-bit PNG from stdlib only — the PNG counterpart of
    :func:`make_minimal_bmp`.  ``rows`` (raw scanlines, len = width*3 RGB
    or width gray) overrides the solid ``rgb`` fill; ``filter_type``
    forward-applies the chosen RFC 2083 filter to every scanline so tests
    can exercise each reconstruction path of :func:`_png_pixels`."""
    import struct
    import zlib

    ch = 3 if (rows is None or len(rows[0]) == width * 3) else 1
    if rows is None:
        rows = [bytes(rgb) * width for _ in range(height)]
    ctype = 2 if ch == 3 else 0
    prev = bytes(len(rows[0]))
    filtered = bytearray()
    for line in rows:
        filtered.append(filter_type)
        for x in range(len(line)):
            a = line[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if filter_type == 0:
                f = line[x]
            elif filter_type == 1:
                f = line[x] - a
            elif filter_type == 2:
                f = line[x] - b
            elif filter_type == 3:
                f = line[x] - (a + b) // 2
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                f = line[x] - pred
            filtered.append(f & 0xFF)
        prev = line

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(filtered)))
        + chunk(b"IEND", b"")
    )


def _feature_vector(content: bytes, dim: int = 8) -> list[float]:
    """Feature extraction: REAL pixel statistics lead the vector when the
    payload is stdlib-decodable (24-bit BMP and 8-bit non-interlaced PNG —
    per-channel means + gray std); the remainder (and the whole vector for
    formats the stdlib can't decode) is the DETERMINISTIC FAKE tier,
    md5-derived values in [-1, 1] standing in for a vision encoder."""
    import hashlib

    out: list[float] = []
    stats = _bmp_pixel_stats(content) or _png_pixel_stats(content)
    if stats:
        out.extend(stats[:dim])
    for i in range(len(out), dim):
        h = hashlib.md5(content + i.to_bytes(2, "big")).digest()
        out.append(2.0 * (int.from_bytes(h[:4], "big") / 0xFFFFFFFF) - 1.0)
    return out


def image_features(
    df: DataFrame,
    id_col: str = "path",
    content_col: str = "content",
    dim: int = 8,
    use_pillow: bool = True,
) -> DataFrame:
    """Decode + featurize an image column: one mapInPandas pass, output one
    row per image with mime/geometry metadata and a float feature vector
    (joinable into the similarity-search operators).  ``use_pillow=False``
    pins the stdlib+fake decode tiers for environment-independent output
    (see :func:`_decode_image`)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                content = bytes(r[content_col]) if r[content_col] is not None else b""
                mime, w, h = _decode_image(content, use_pillow=use_pillow)
                rows.append(
                    {
                        "id": str(r[id_col]),
                        "mime": mime,
                        "width": w,
                        "height": h,
                        "feat": _feature_vector(content, dim),
                    }
                )
            yield pd.DataFrame(rows, columns=["id", "mime", "width", "height", "feat"])

    return df.select(id_col, content_col).mapInPandas(run, IMAGE_FEATURES_SCHEMA)


def frame_sample(
    df: DataFrame,
    id_col: str = "path",
    content_col: str = "content",
    every_n: int = 10,
    max_frames: int = 4,
) -> DataFrame:
    """Video frame sampling plumbing (real impl: ffmpeg keyframe extract).

    The FAKE kernel slices the binary into ``max_frames`` deterministic
    chunks standing in for decoded frames; output one row per (video, frame)
    with the frame bytes as a fresh binary column — the shape a downstream
    vision featurizer consumes.
    """
    schema = "id string, frame_no int, frame binary"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                content = bytes(r[content_col]) if r[content_col] is not None else b""
                step = max(1, len(content) // max(1, max_frames))
                for i in range(min(max_frames, max(1, len(content) // step))):
                    rows.append(
                        {
                            "id": str(r[id_col]),
                            "frame_no": i,
                            "frame": content[i * step : (i + 1) * step],
                        }
                    )
            yield pd.DataFrame(rows, columns=["id", "frame_no", "frame"])

    return df.select(id_col, content_col).mapInPandas(run, schema)


AUDIO_FEATURES_SCHEMA = (
    "id string, sample_rate int, n_samples bigint, rms double, zero_crossings bigint"
)


def _parse_wav(content: bytes) -> tuple[int, list[float]] | None:
    """REAL WAV decode via the stdlib ``wave`` module: 8/16-bit PCM, any
    channel count (downmixed to mono by averaging).  Returns None for
    non-WAV or unsupported sample widths."""
    import io
    import struct
    import wave

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        return None
    try:
        with wave.open(io.BytesIO(content)) as w:
            rate = w.getframerate()
            nch = w.getnchannels()
            width = w.getsampwidth()
            raw = w.readframes(w.getnframes())
    except (wave.Error, EOFError):
        return None
    if width == 1:  # unsigned 8-bit
        samples = [(b - 128) / 128.0 for b in raw]
    elif width == 2:  # signed 16-bit LE
        samples = [s / 32768.0 for s in struct.unpack(f"<{len(raw) // 2}h", raw)]
    else:
        return None
    if nch > 1:
        samples = [
            sum(samples[i : i + nch]) / nch for i in range(0, len(samples), nch)
        ]
    return rate, samples


def _decode_audio(content: bytes) -> tuple[int, list[float]]:
    """Audio decode: REAL stdlib WAV parsing when the bytes are a RIFF/WAVE
    container; otherwise the DETERMINISTIC FAKE tier (bytes as signed 8-bit
    PCM at a nominal 16 kHz) so compressed formats (mp3/ogg — decoders not
    in this container) still flow through the real feature math."""
    wav = _parse_wav(content)
    if wav is not None:
        return wav
    pcm = [(b - 128) / 128.0 for b in content]
    return 16000, pcm


def audio_features(
    df: DataFrame, id_col: str = "path", content_col: str = "content"
) -> DataFrame:
    """Audio decode + feature extraction plumbing: binary -> mapInPandas ->
    (sample_rate, n_samples, rms, zero_crossings) per clip.  The decode
    kernel is a deterministic fake (see :func:`_decode_audio`); swap in a
    real decoder without touching the Spark plumbing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                content = bytes(r[content_col]) if r[content_col] is not None else b""
                rate, pcm = _decode_audio(content)
                n = len(pcm)
                rms = math.sqrt(sum(x * x for x in pcm) / n) if n else 0.0
                zc = sum(
                    1 for i in range(1, n) if (pcm[i - 1] < 0) != (pcm[i] < 0)
                )
                rows.append(
                    {
                        "id": str(r[id_col]),
                        "sample_rate": rate,
                        "n_samples": n,
                        "rms": rms,
                        "zero_crossings": zc,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["id", "sample_rate", "n_samples", "rms", "zero_crossings"],
            )

    return df.select(id_col, content_col).mapInPandas(run, AUDIO_FEATURES_SCHEMA)
