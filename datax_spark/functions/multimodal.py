"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

Images/audio/video ride through the engine as binary columns; per-modality
work (decode, resize, frame-sample, feature-extract) runs as Arrow-batched
``mapInPandas`` stages so payload bytes never round-trip through per-row
Python.

Decode is REAL for every format the container can express without media
libraries: WAV (stdlib ``wave``), BMP (24-bit BI_RGB, ``struct``), PPM/PGM
(binary P6/P5), PNG (stdlib ``zlib`` + the five W3C scanline filters +
palette/grayscale/alpha expansion + 16-bit reduction + Adam7
deinterlacing — the COMPLETE static spec), and YUV4MPEG2 video (text header + raw
planar frames) — all pure stdlib/numpy, deterministic byte-for-byte.
Formats that genuinely need a codec library (JPEG/MP3/MP4 — PIL/librosa/av
are not installed here) raise ``NotImplementedError`` from
``decode_payload``; ``_fake_decode`` remains the deterministic stand-in
used by the frozen ``multimodal_meta`` contract query so its DuckDB oracle
stays byte-stable.

Scale notes (100 TB of media):
* payloads stay columnar (parquet binary → Arrow buffers → pandas bytes
  objects); the mapInPandas stage is embarrassingly parallel, no shuffle;
* metadata-only consumers never touch payload bytes: select the metadata
  columns and parquet column pruning skips the binary chunks entirely;
* batch size is governed by ``spark.sql.execution.arrow.maxRecordsPerBatch``
  — lower it for large payloads so a batch fits executor memory.
"""

from __future__ import annotations

import io
import struct
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("modality", T.StringType()),
    ]
)

_MODALITIES = ("image", "audio", "video")

# what a decoder may raise on a corrupt or unsupported payload: every
# per-row stage routes these to a failed row instead of killing the task
_ROUTED = (NotImplementedError, ValueError, EOFError, wave.Error)


# --------------------------- format sniffing --------------------------- #

def sniff_format(payload: bytes) -> str | None:
    """Identify a payload by magic bytes. Returns one of
    ``wav bmp ppm pgm y4m png jpeg`` or None for unrecognized bytes."""
    p = bytes(payload[:16])
    if p[:4] == b"RIFF" and p[8:12] == b"WAVE":
        return "wav"
    if p[:2] == b"BM":
        return "bmp"
    if p[:2] == b"P6":
        return "ppm"
    if p[:2] == b"P5":
        return "pgm"
    if p[:9] == b"YUV4MPEG2":
        return "y4m"
    if p[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if p[:3] == b"\xff\xd8\xff":
        return "jpeg"
    return None


# ----------------------------- real decoders ---------------------------- #

def decode_wav(payload: bytes) -> dict:
    """PCM WAV via stdlib ``wave``: header fields + int16 samples as a
    (n_samples, n_channels) numpy array (8-bit widened, 24/32-bit
    narrowed to the high 16 bits).

    Malformed headers surface as ValueError: the stdlib wave module can
    raise struct.error on truncation and bare RuntimeError on some
    corrupt fmt chunks (mutation fuzz found both) — neither is in the
    pipeline stages' dirty-route catch list, so uncaught they'd kill a
    whole scan task for one bad object."""
    try:
        with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
            n_channels = w.getnchannels()
            sample_rate = w.getframerate()
            n_frames = w.getnframes()
            width = w.getsampwidth()
            raw = w.readframes(n_frames)
    except (struct.error, RuntimeError) as e:
        raise ValueError(f"malformed WAV payload: {e}") from e
    if width == 2:
        pcm = np.frombuffer(raw, dtype="<i2")
    elif width == 1:  # unsigned 8-bit per the WAV spec
        pcm = (np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128) << 8
    elif width == 3:  # 24-bit little-endian signed → high 16 bits
        b = np.frombuffer(raw, dtype=np.uint8)
        b = b[: (len(b) // 3) * 3].reshape(-1, 3).astype(np.int32)
        full = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        full = (full ^ 0x800000) - 0x800000  # sign-extend bit 23
        pcm = (full >> 8).astype(np.int16)
    elif width == 4:
        pcm = (np.frombuffer(raw, dtype="<i4") >> 16).astype(np.int16)
    else:
        raise NotImplementedError(f"unsupported WAV sample width {width}")
    pcm = pcm.reshape(-1, n_channels)
    return {
        "sample_rate": sample_rate,
        "n_channels": n_channels,
        "n_samples": n_frames,
        "duration_s": n_frames / sample_rate if sample_rate else 0.0,
        "pcm": pcm,
    }


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BI_RGB BMP → (h, w, 3) uint8 RGB array.

    Handles the 4-byte row padding and the bottom-up row order (negative
    height = top-down, also handled)."""
    buf = bytes(payload)
    if buf[:2] != b"BM":
        raise ValueError("not a BMP payload")
    try:
        (data_offset,) = struct.unpack_from("<I", buf, 10)
        (hdr_size, w, h) = struct.unpack_from("<Iii", buf, 14)
        (planes, bpp) = struct.unpack_from("<HH", buf, 26)
        (compression,) = struct.unpack_from("<I", buf, 30)
    except struct.error as e:
        # struct.error is not a ValueError — uncaught it would escape
        # the dirty-routing and kill the scan task (fuzz-found)
        raise ValueError(f"truncated BMP header: {e}") from e
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP is supported (bpp={bpp}, "
            f"compression={compression})"
        )
    top_down = h < 0
    h = abs(h)
    row_bytes = (w * 3 + 3) & ~3
    rows = np.frombuffer(
        buf, dtype=np.uint8, count=row_bytes * h, offset=data_offset
    ).reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR on disk → RGB


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse the five PNG scanline filters (W3C PNG spec §9) →
    (h, stride) uint8 of reconstructed bytes. Sub/average/paeth have an
    intra-row left-neighbor dependency, so those rows walk bytes in
    python — decode here is a correctness/plumbing path (executor-side,
    batch-parallel via mapInPandas), not a pixel-throughput codec."""
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = int(rows[y, 0])
        cur = rows[y, 1:].astype(np.int32)
        if f == 0:
            pass
        elif f == 1:  # sub
            for i in range(bpp, stride):
                cur[i] = (cur[i] + cur[i - bpp]) & 0xFF
        elif f == 2:  # up
            cur = (cur + prev) & 0xFF
        elif f == 3:  # average
            for i in range(stride):
                left = cur[i - bpp] if i >= bpp else 0
                cur[i] = (cur[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # paeth
            for i in range(stride):
                a = int(cur[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (cur[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


def _png_samples(
    recon: np.ndarray, w: int, h: int, depth: int, channels: int
) -> np.ndarray:
    """Reconstructed scanline bytes → (h, w, channels) uint16 samples
    in the spec's ORIGINAL sample domain (16-bit stays 16-bit here;
    the tRNS color key must compare before any reduction). Sub-byte
    samples pack big-endian within each byte (W3C PNG §7.2)."""
    if depth == 8:
        return (
            recon[:, : w * channels].reshape(h, w, channels).astype(np.uint16)
        )
    if depth == 16:
        hi_lo = (
            recon[:, : w * channels * 2]
            .reshape(h, w, channels, 2)
            .astype(np.uint16)
        )
        return (hi_lo[..., 0] << 8) | hi_lo[..., 1]
    stride = recon.shape[1]
    bits = np.unpackbits(recon, axis=1)
    weights = 1 << np.arange(depth - 1, -1, -1)
    vals = (
        bits[:, : (stride * 8 // depth) * depth]
        .reshape(h, -1, depth)
        .dot(weights)
    )
    return vals[:, :w].astype(np.uint16).reshape(h, w, 1)


# Adam7 pass grid (W3C PNG §8.2): (x_start, y_start, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_deinterlace(
    raw: bytes, w: int, h: int, depth: int, channels: int
) -> np.ndarray:
    """Adam7: the inflated stream is SEVEN independently-filtered
    sub-images (each with its own per-scanline filter bytes and its
    own byte-aligned stride); pass k's pixels land on the (x0+i*dx,
    y0+j*dy) grid of the full image. Empty passes (sub-image width or
    height 0 for small images) contribute zero bytes, per spec."""
    bits_pp = depth * channels
    samples = np.zeros((h, w, channels), dtype=np.uint16)
    off = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        stride = (pw * bits_pp + 7) // 8
        n = (stride + 1) * ph
        sub = raw[off : off + n]
        if len(sub) != n:
            raise ValueError("PNG pixel data length mismatch")
        off += n
        recon = _png_unfilter(sub, ph, stride, max(1, bits_pp // 8))
        samples[y0::dy, x0::dx, :] = _png_samples(recon, pw, ph, depth, channels)
    if off != len(raw):
        raise ValueError("PNG pixel data length mismatch")
    return samples


def decode_png(payload: bytes) -> np.ndarray:
    """Pure stdlib/numpy PNG decode: zlib inflate + the five scanline
    filters + palette/grayscale/alpha expansion (the whole W3C spec for
    the still-overwhelming non-interlaced 8-bit-and-under majority —
    PNG was the one 'needs a codec library' format that didn't).

    Output: gray → (h, w); gray+alpha → (h, w, 2); RGB / palette →
    (h, w, 3); RGBA / palette+tRNS → (h, w, 4), all uint8. Sub-byte
    gray depths scale to full 0..255 range; palette indices don't.
    16-bit channels decode with the standard high-byte reduction to
    uint8 (the tRNS color key still compares against the FULL 16-bit
    samples before reduction). A tRNS color key on gray/RGB images
    adds an alpha channel (key pixels → 0), compared in the raw sample
    domain per the spec. Adam7-interlaced images decode (seven
    independently-filtered sub-images reassembled onto the pass grid,
    W3C §8.2) — round 5 closed the last pure-python-expressible format
    gap. Per-chunk CRCs are verified (damage → ValueError →
    dirty-routed)."""
    import zlib

    buf = bytes(payload)
    if buf[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    ihdr = plte = trns = None
    idat: list[bytes] = []
    pos = 8
    while pos + 12 <= len(buf):
        (length,) = struct.unpack_from(">I", buf, pos)
        ctype = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(buf):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", buf, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG {ctype.decode('latin1')} chunk CRC mismatch")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"tRNS":
            trns = data
        elif ctype == b"IDAT":
            idat.append(data)
        pos += 12 + length
        if ctype == b"IEND":
            break
    if ihdr is None or len(ihdr) != 13 or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if w == 0 or h == 0 or comp != 0 or filt != 0:
        raise ValueError("bad PNG IHDR")
    if interlace not in (0, 1):
        raise ValueError(f"bad PNG interlace method {interlace}")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"bad PNG color type {color}")
    ok_depths = {0: (1, 2, 4, 8, 16), 3: (1, 2, 4, 8)}.get(color, (8, 16))
    if depth not in ok_depths:
        raise ValueError(
            f"invalid PNG bit depth {depth} for color type {color}"
        )
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        # zlib.error is NOT a ValueError — uncaught it would escape the
        # pipeline stages' dirty-routing and kill the whole scan task
        raise ValueError(f"PNG IDAT inflate failed: {e}") from e
    bits_pp = depth * channels
    # `raw_samples` keeps the spec's original sample domain (uint16):
    # the tRNS color key compares there, BEFORE any scaling/reduction
    if interlace == 0:
        stride = (w * bits_pp + 7) // 8
        if len(raw) != (stride + 1) * h:
            raise ValueError("PNG pixel data length mismatch")
        recon = _png_unfilter(raw, h, stride, max(1, bits_pp // 8))
        raw_samples = _png_samples(recon, w, h, depth, channels)
    else:
        raw_samples = _png_deinterlace(raw, w, h, depth, channels)
    if depth == 16:
        arr = (raw_samples >> 8).astype(np.uint8)  # standard 16→8 reduction
    else:
        arr = raw_samples.astype(np.uint8)
    if color == 3:
        if plte is None or len(plte) % 3:
            raise ValueError("palette PNG missing/bad PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = arr[:, :, 0]
        if idx.max(initial=0) >= len(pal):
            raise ValueError("PNG palette index out of range")
        out = pal[idx]
        if trns is not None:
            alpha = np.full(len(pal), 255, dtype=np.uint8)
            a = np.frombuffer(trns, dtype=np.uint8)
            alpha[: len(a)] = a
            out = np.dstack([out, alpha[idx]])
        return out
    if color == 0:
        if depth < 8:
            arr = (arr * (255 // ((1 << depth) - 1))).astype(np.uint8)
        gray = arr.reshape(h, w)
        if trns is not None and len(trns) >= 2:
            key = int.from_bytes(trns[:2], "big")
            alpha = np.where(
                raw_samples[:, :, 0] == key, 0, 255
            ).astype(np.uint8)
            return np.dstack([gray, alpha])
        return gray
    if color == 2 and trns is not None and len(trns) >= 6:
        keys = struct.unpack(">HHH", trns[:6])
        mask = (
            (raw_samples[:, :, 0] == keys[0])
            & (raw_samples[:, :, 1] == keys[1])
            & (raw_samples[:, :, 2] == keys[2])
        )
        return np.dstack([arr, np.where(mask, 0, 255).astype(np.uint8)])
    return arr


def _png_filter_scanlines(a: np.ndarray, filter_type: int) -> bytes:
    """(h, w, ch) uint8 → filtered scanline bytes (one fixed filter
    type on every row, forward-filtered per W3C §9, vectorized)."""
    h, w, ch = a.shape
    flat = a.reshape(h, w * ch).astype(np.int32)
    zeros = np.zeros((h, ch), dtype=np.int32)
    left = np.concatenate([zeros, flat[:, :-ch]], axis=1)
    up = np.concatenate([np.zeros((1, w * ch), np.int32), flat[:-1]], axis=0)
    upleft = np.concatenate([zeros, up[:, :-ch]], axis=1)
    if filter_type == 0:
        filt = flat
    elif filter_type == 1:
        filt = flat - left
    elif filter_type == 2:
        filt = flat - up
    elif filter_type == 3:
        filt = flat - ((left + up) >> 1)
    else:  # paeth predictor, vectorized
        p = left + up - upleft
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
        pred = np.where(
            (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft)
        )
        filt = flat - pred
    filt = (filt & 0xFF).astype(np.uint8)
    return b"".join(bytes([filter_type]) + filt[y].tobytes() for y in range(h))


def encode_png(
    arr: np.ndarray, filter_type: int = 0, interlace: bool = False
) -> bytes:
    """uint8 array → deterministic PNG bytes: (h, w) gray, (h, w, 2)
    gray+alpha, (h, w, 3) RGB, (h, w, 4) RGBA. One fixed
    ``filter_type`` (0-4, forward-filtered per W3C §9) on every
    scanline and a fixed zlib level, so re-encodes are byte-identical
    (the export-determinism contract every encoder here follows).
    Filter 2 (up) is the cheap-compression default for photographic
    rows; 0 keeps the stream trivially inspectable. ``interlace=True``
    writes Adam7: each of the seven pass sub-images is extracted on
    its grid and filtered INDEPENDENTLY (filters never reach across a
    pass boundary), matching what the decoder reassembles."""
    import zlib

    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}.get(ch)
    if color is None:
        raise ValueError(f"cannot encode {ch}-channel array as PNG")
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"bad PNG filter type {filter_type}")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 1 if interlace else 0)
    if interlace:
        scanlines = b"".join(
            _png_filter_scanlines(a[y0::dy, x0::dx, :], filter_type)
            for x0, y0, dx, dy in _ADAM7
            if a[y0::dy, x0::dx, :].size
        )
    else:
        scanlines = _png_filter_scanlines(a, filter_type)
    idat = zlib.compress(scanlines, 6)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def _pnm_header(buf: bytes) -> tuple[list[int], int]:
    """Parse PNM header tokens after the magic: returns ([w, h, maxval],
    data_offset). Whitespace/comment handling per the netpbm spec."""
    vals: list[int] = []
    i = 2
    n_needed = 3
    while len(vals) < n_needed:
        while i < len(buf) and buf[i : i + 1].isspace():
            i += 1
        if buf[i : i + 1] == b"#":
            while i < len(buf) and buf[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(buf) and not buf[j : j + 1].isspace():
            j += 1
        vals.append(int(buf[i:j]))
        i = j
    return vals, i + 1  # single whitespace byte after maxval


def decode_pnm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) → (h, w, 3) or PGM (P5) → (h, w) uint8 array."""
    buf = bytes(payload)
    magic = buf[:2]
    if magic not in (b"P6", b"P5"):
        raise ValueError("not a binary PPM/PGM payload")
    (w, h, maxval), off = _pnm_header(buf)
    if maxval != 255:
        raise NotImplementedError("only maxval=255 PNM is supported")
    ch = 3 if magic == b"P6" else 1
    arr = np.frombuffer(buf, dtype=np.uint8, count=w * h * ch, offset=off)
    return arr.reshape(h, w, 3) if ch == 3 else arr.reshape(h, w)


def encode_ppm(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → deterministic binary P6 bytes (canonical header)."""
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def decode_y4m(payload: bytes) -> dict:
    """YUV4MPEG2 stream → header fields + raw planar frames.

    Supports C420 (default per spec) and C444 chroma; frames are returned
    as raw plane bytes (deterministic — no colorspace conversion)."""
    buf = bytes(payload)
    if buf[:9] != b"YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 payload")
    nl = buf.index(b"\n")
    w = h = 0
    fps_num, fps_den = 0, 1
    chroma = "420"
    for tok in buf[10:nl].split(b" "):
        if not tok:
            continue
        tag, val = tok[:1], tok[1:]
        if tag == b"W":
            w = int(val)
        elif tag == b"H":
            h = int(val)
        elif tag == b"F":
            fps_num, fps_den = (int(x) for x in val.split(b":"))
        elif tag == b"C":
            chroma = val.decode("ascii")
    if chroma.startswith("444"):
        frame_bytes = w * h * 3
    elif chroma.startswith("420"):
        frame_bytes = w * h * 3 // 2
    else:
        raise NotImplementedError(f"unsupported y4m chroma C{chroma}")
    frames: list[bytes] = []
    i = nl + 1
    while i < len(buf):
        j = buf.index(b"\n", i)  # FRAME line (may carry parameters)
        if buf[i : i + 5] != b"FRAME":
            raise ValueError("malformed y4m frame marker")
        frames.append(buf[j + 1 : j + 1 + frame_bytes])
        i = j + 1 + frame_bytes
    return {
        "width": w,
        "height": h,
        "fps_num": fps_num,
        "fps_den": fps_den,
        "chroma": chroma,
        "frames": frames,
    }


def resize_bilinear(arr: np.ndarray, target_w: int, target_h: int) -> np.ndarray:
    """Deterministic numpy bilinear resample, align_corners=False convention
    (pixel centers at (i + 0.5) / n — what PIL/OpenCV use by default)."""
    h, w = arr.shape[:2]
    img = arr.astype(np.float32)
    if img.ndim == 2:
        img = img[:, :, None]
    ys = (np.arange(target_h, dtype=np.float64) + 0.5) * h / target_h - 0.5
    xs = (np.arange(target_w, dtype=np.float64) + 0.5) * w / target_w - 0.5
    y0 = np.clip(np.floor(ys).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(np.int64), 0, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0).astype(np.float32)[:, None, None]
    wx = np.clip(xs - x0, 0.0, 1.0).astype(np.float32)[None, :, None]
    top = img[y0][:, x0] * (1 - wx) + img[y0][:, x1] * wx
    bot = img[y1][:, x0] * (1 - wx) + img[y1][:, x1] * wx
    out = top * (1 - wy) + bot * wy
    out = np.clip(np.rint(out), 0, 255).astype(np.uint8)
    return out[:, :, 0] if arr.ndim == 2 else out


def decode_payload(payload: bytes, modality: str | None = None) -> dict:
    """Decode a media payload by sniffed format.

    Real for WAV / BMP / PPM / PGM / PNG / YUV4MPEG2 (stdlib + numpy —
    PNG is zlib + the five scanline filters, no codec library needed).
    JPEG and compressed audio/video raise ``NotImplementedError`` —
    those need PIL/librosa/av, which are not installed in this
    container."""
    fmt = sniff_format(payload)
    if fmt == "wav":
        d = decode_wav(payload)
        return {"format": fmt, "modality": "audio", **d}
    if fmt == "png":
        arr = decode_png(payload)
        return {"format": fmt, "modality": "image", "pixels": arr,
                "width": arr.shape[1], "height": arr.shape[0]}
    if fmt == "bmp":
        arr = decode_bmp(payload)
        return {"format": fmt, "modality": "image", "pixels": arr,
                "width": arr.shape[1], "height": arr.shape[0]}
    if fmt in ("ppm", "pgm"):
        arr = decode_pnm(payload)
        return {"format": fmt, "modality": "image", "pixels": arr,
                "width": arr.shape[1], "height": arr.shape[0]}
    if fmt == "y4m":
        d = decode_y4m(payload)
        return {"format": fmt, "modality": "video", **d}
    raise NotImplementedError(
        f"decode of format {fmt or 'unknown'} requires a codec library "
        "(PIL/librosa/av), which is not installed in this container"
    )


def _fake_decode(payload: bytes) -> tuple[int, int]:
    """Deterministic fake of a decoded frame's (width, height)."""
    n = len(payload)
    return n % 640 + 1, n % 480 + 1


def multimodal_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Extract typed metadata from opaque binary payloads via Arrow-batched
    mapInPandas: (doc_id, n_bytes, width, height, modality)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = pdf[payload_col]
            n_bytes = payloads.map(len).astype("int64")
            wh = [_fake_decode(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_bytes": n_bytes,
                    "width": pd.Series([w for w, _ in wh], dtype="int64"),
                    "height": pd.Series([h for _, h in wh], dtype="int64"),
                    "modality": [_MODALITIES[i % 3] for i in ids],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(extract, META_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
    ]
)


def resize_stub(
    df: DataFrame,
    target_w: int,
    target_h: int,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Resize plumbing: same shape as a real resize stage (binary in →
    binary out + new dims); payload transform is a deterministic
    truncation fake in place of a pixel resample."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        budget = max(1, target_w * target_h // 8)
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "payload": pdf[payload_col].map(lambda p: bytes(p)[:budget]),
                    "width": pd.Series([target_w] * len(pdf), dtype="int64"),
                    "height": pd.Series([target_h] * len(pdf), dtype="int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(resize, RESIZE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def frame_sample_stub(
    df: DataFrame,
    n_frames: int = 4,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Video frame-sampling plumbing (1 row in → n rows out, the real
    fan-out shape): deterministic byte-slice fake in place of an av
    keyframe decode."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload)
                step = max(1, len(raw) // max(n_frames, 1))
                for i in range(n_frames):
                    ids.append(int(doc_id))
                    idxs.append(i)
                    frames.append(raw[i * step : i * step + step])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "frame": frames,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(sample, FRAME_SCHEMA)


# ------------------- real-decode pipeline stages ------------------- #

DECODE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("modality", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_channels", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
    ]
)


def decode_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL metadata decode via Arrow-batched mapInPandas: sniffs each
    payload's magic and parses the container header (WAV/BMP/PNM/Y4M).
    Unsupported or unrecognized payloads come back as format
    'png'/'jpeg'/'unknown' with null media fields — routed, not raised,
    so one bad object can't kill a 100 TB scan (quarantine-style)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload)
                fmt = sniff_format(raw)
                rec = {
                    "doc_id": int(doc_id),
                    "n_bytes": len(raw),
                    "format": fmt or "unknown",
                    "modality": None,
                    "width": None,
                    "height": None,
                    "n_channels": None,
                    "sample_rate": None,
                    "n_frames": None,
                    "duration_s": None,
                }
                try:
                    d = decode_payload(raw)
                except _ROUTED:
                    rows.append(rec)
                    continue
                rec["modality"] = d["modality"]
                if d["modality"] == "audio":
                    rec.update(
                        n_channels=d["n_channels"],
                        sample_rate=d["sample_rate"],
                        n_frames=d["n_samples"],
                        duration_s=d["duration_s"],
                    )
                elif d["modality"] == "image":
                    px = d["pixels"]
                    rec.update(
                        width=d["width"],
                        height=d["height"],
                        n_channels=1 if px.ndim == 2 else px.shape[2],
                        n_frames=1,
                    )
                else:  # video
                    rec.update(
                        width=d["width"],
                        height=d["height"],
                        n_frames=len(d["frames"]),
                        duration_s=(
                            len(d["frames"]) * d["fps_den"] / d["fps_num"]
                            if d["fps_num"]
                            else None
                        ),
                    )
                rows.append(rec)
            out = pd.DataFrame(rows, columns=[f.name for f in DECODE_META_SCHEMA])
            for c in ("doc_id", "n_bytes"):
                out[c] = out[c].astype("int64")
            yield out

    return df.select(id_col, payload_col).mapInPandas(extract, DECODE_META_SCHEMA)


RESIZE_REAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("ok", T.BooleanType()),
    ]
)


def resize_images(
    df: DataFrame,
    target_w: int,
    target_h: int,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL image resize: decode BMP/PPM/PGM, bilinear-resample in numpy,
    re-encode as canonical binary PPM (grayscale is expanded to RGB so the
    output format is uniform). Undecodable rows pass through with
    ok=false and a null payload — dirty-routing semantics, no task kill."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads, oks = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload)
                ids.append(int(doc_id))
                try:
                    d = decode_payload(raw)
                    if d["modality"] != "image":
                        raise ValueError("not an image")
                    arr = resize_bilinear(d["pixels"], target_w, target_h)
                    if arr.ndim == 2:
                        arr = np.repeat(arr[:, :, None], 3, axis=2)
                    payloads.append(encode_ppm(arr))
                    oks.append(True)
                except _ROUTED:
                    payloads.append(None)
                    oks.append(False)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "payload": payloads,
                    "width": pd.Series([target_w] * len(ids), dtype="int64"),
                    "height": pd.Series([target_h] * len(ids), dtype="int64"),
                    "ok": pd.Series(oks, dtype="bool"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(resize, RESIZE_REAL_SCHEMA)


SAMPLE_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("n_frames_total", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame,
    n_frames: int = 4,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL video frame sampling over YUV4MPEG2 payloads: parse the stream,
    pick ``n_frames`` evenly-spaced frames (deterministic indices
    ``floor(i * total / n)``), emit raw planar frame bytes — the 1→n
    fan-out shape of an av keyframe decode. Non-y4m rows are dropped
    (filter-then-decode, like a modality-partitioned lake scan)."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, totals, frames = [], [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload)
                if sniff_format(raw) != "y4m":
                    continue
                d = decode_y4m(raw)
                total = len(d["frames"])
                if not total:
                    continue
                k = min(n_frames, total)
                for i in range(k):
                    fi = i * total // k
                    ids.append(int(doc_id))
                    idxs.append(fi)
                    totals.append(total)
                    frames.append(d["frames"][fi])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "n_frames_total": pd.Series(totals, dtype="int64"),
                    "frame": frames,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(sample, SAMPLE_FRAME_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)


def audio_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL audio feature extraction over WAV payloads: RMS energy, peak
    amplitude, zero-crossing count — vectorized numpy over decoded PCM,
    one Arrow batch at a time. Non-WAV rows are dropped."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload)
                if sniff_format(raw) != "wav":
                    continue
                d = decode_wav(raw)
                mono = d["pcm"].astype(np.float64).mean(axis=1)
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "sample_rate": d["sample_rate"],
                        "n_samples": d["n_samples"],
                        "rms": float(np.sqrt(np.mean(mono**2))) if len(mono) else 0.0,
                        "peak": int(np.max(np.abs(d["pcm"]))) if len(mono) else 0,
                        "zero_crossings": int(np.sum(np.signbit(mono[1:]) != np.signbit(mono[:-1]))),
                    }
                )
            out = pd.DataFrame(rows, columns=[f.name for f in AUDIO_FEATURES_SCHEMA])
            for c in ("doc_id", "sample_rate", "n_samples", "peak", "zero_crossings"):
                out[c] = out[c].astype("int64")
            yield out

    return df.select(id_col, payload_col).mapInPandas(feats, AUDIO_FEATURES_SCHEMA)
