"""Multimodal binary-payload plumbing tests (functions/multimodal.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datax_spark.functions.multimodal import (
    decode_payload,
    frame_sample_stub,
    multimodal_meta,
    resize_stub,
)


@pytest.fixture(scope="module")
def payloads(spark):
    docs = spark.createDataFrame(
        [(0, "alpha"), (1, "beta longer payload"), (2, "γunicode")],
        "doc_id long, text string",
    )
    return docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))


def test_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_payload(b"\x89PNG", "image")


def test_meta_deterministic(payloads):
    rows = {r["doc_id"]: r for r in multimodal_meta(payloads).collect()}
    assert rows[0]["n_bytes"] == 5
    assert rows[2]["n_bytes"] == len("γunicode".encode()) == 9
    for doc_id, r in rows.items():
        assert r["width"] == r["n_bytes"] % 640 + 1
        assert r["height"] == r["n_bytes"] % 480 + 1
        assert r["modality"] == ("image", "audio", "video")[doc_id % 3]


def test_resize_bounds_payload(payloads):
    out = resize_stub(payloads, target_w=8, target_h=8).collect()
    budget = 8 * 8 // 8
    for r in out:
        assert len(r["payload"]) <= budget
        assert (r["width"], r["height"]) == (8, 8)


def test_frame_sample_fanout(payloads):
    out = frame_sample_stub(payloads, n_frames=4)
    counts = out.groupBy("doc_id").count().collect()
    assert all(r["count"] == 4 for r in counts)
    frames = {
        (r["doc_id"], r["frame_idx"]): r["frame"] for r in out.collect()
    }
    # frames partition the payload deterministically
    assert frames[(0, 0)] == b"a"
    assert frames[(0, 1)] == b"l"

# ------------------- real decoders (stdlib/numpy formats) ------------------- #

import io
import struct
import wave

import numpy as np

from datax_spark.functions.multimodal import (
    audio_features,
    decode_bmp,
    decode_meta,
    decode_pnm,
    decode_wav,
    decode_y4m,
    encode_ppm,
    resize_bilinear,
    resize_images,
    sample_frames,
    sniff_format,
)


def make_wav(n=64, rate=8000, channels=1):
    pcm = (np.arange(n * channels, dtype=np.int64) * 257 - 8000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue(), pcm.reshape(-1, channels)


def make_bmp(arr):
    """(h, w, 3) uint8 RGB -> 24-bit BI_RGB bottom-up BMP bytes."""
    h, w = arr.shape[:2]
    row_bytes = (w * 3 + 3) & ~3
    data = bytearray()
    for row in arr[::-1]:  # bottom-up
        line = row[:, ::-1].tobytes()  # RGB -> BGR
        data += line + b"\x00" * (row_bytes - len(line))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 0, 0, 0, 0)
    return header + info + bytes(data)


def make_y4m(frames, w=4, h=4, chroma="420"):
    fb = w * h * 3 // 2 if chroma == "420" else w * h * 3
    out = b"YUV4MPEG2 W%d H%d F30:1 Ip A1:1 C%s\n" % (w, h, chroma.encode())
    for f in frames:
        assert len(f) == fb
        out += b"FRAME\n" + f
    return out


def test_sniff_format():
    wav, _ = make_wav()
    assert sniff_format(wav) == "wav"
    assert sniff_format(b"BM\x00\x00") == "bmp"
    assert sniff_format(b"P6\n1 1\n255\n\x00\x00\x00") == "ppm"
    assert sniff_format(b"P5\n1 1\n255\n\x00") == "pgm"
    assert sniff_format(b"YUV4MPEG2 W4 H4\n") == "y4m"
    assert sniff_format(b"\x89PNG\r\n\x1a\nrest") == "png"
    assert sniff_format(b"\xff\xd8\xff\xe0") == "jpeg"
    assert sniff_format(b"just text") is None


def test_decode_wav_roundtrip():
    payload, pcm = make_wav(n=50, rate=16000, channels=2)
    d = decode_wav(payload)
    assert d["sample_rate"] == 16000
    assert d["n_channels"] == 2
    assert d["n_samples"] == 50
    assert d["duration_s"] == 50 / 16000
    np.testing.assert_array_equal(d["pcm"], pcm)


def test_decode_bmp_roundtrip():
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
    np.testing.assert_array_equal(decode_bmp(make_bmp(arr)), arr)


def test_decode_pnm():
    arr = np.arange(18, dtype=np.uint8).reshape(2, 3, 3)
    # comment + multi-whitespace header exercises the netpbm tokenizer
    ppm = b"P6\n# a comment\n3 2\n255\n" + arr.tobytes()
    np.testing.assert_array_equal(decode_pnm(ppm), arr)
    gray = np.arange(6, dtype=np.uint8).reshape(2, 3)
    pgm = b"P5\n3 2\n255\n" + gray.tobytes()
    np.testing.assert_array_equal(decode_pnm(pgm), gray)
    # encode_ppm is the canonical inverse
    np.testing.assert_array_equal(decode_pnm(encode_ppm(arr)), arr)


def test_decode_y4m():
    frames = [bytes([i]) * 24 for i in range(5)]
    d = decode_y4m(make_y4m(frames))
    assert (d["width"], d["height"], d["chroma"]) == (4, 4, "420")
    assert (d["fps_num"], d["fps_den"]) == (30, 1)
    assert d["frames"] == frames


def test_resize_bilinear_values():
    # constant image stays constant at any scale
    const = np.full((3, 5, 3), 77, dtype=np.uint8)
    assert (resize_bilinear(const, 10, 4) == 77).all()
    # hand-computed half-pixel-center interpolation of [0, 255] -> width 4
    grad = np.array([[0, 255]], dtype=np.uint8)
    out = resize_bilinear(grad, 4, 1)
    np.testing.assert_array_equal(out[0], [0, 64, 191, 255])
    # grayscale input keeps 2-D shape
    assert resize_bilinear(np.zeros((4, 4), np.uint8), 2, 2).shape == (2, 2)


@pytest.fixture(scope="module")
def media_payloads(spark):
    wav, _ = make_wav(n=100, rate=8000)
    bmp = make_bmp(np.full((6, 4, 3), 10, dtype=np.uint8))
    ppm = encode_ppm(np.full((2, 2, 3), 200, dtype=np.uint8))
    y4m = make_y4m([bytes([i]) * 24 for i in range(5)])
    rows = [(0, wav), (1, bmp), (2, ppm), (3, y4m), (4, b"not media at all")]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_decode_meta_real(media_payloads):
    rows = {r["doc_id"]: r for r in decode_meta(media_payloads).collect()}
    assert rows[0]["format"] == "wav" and rows[0]["modality"] == "audio"
    assert rows[0]["sample_rate"] == 8000 and rows[0]["n_frames"] == 100
    assert rows[0]["duration_s"] == 100 / 8000
    assert rows[1]["format"] == "bmp" and (rows[1]["width"], rows[1]["height"]) == (4, 6)
    assert rows[2]["format"] == "ppm" and rows[2]["n_channels"] == 3
    assert rows[3]["format"] == "y4m" and rows[3]["n_frames"] == 5
    assert rows[3]["duration_s"] == pytest.approx(5 / 30)
    assert rows[4]["format"] == "unknown" and rows[4]["modality"] is None
    assert rows[4]["n_bytes"] == len(b"not media at all")


def test_resize_images_real(spark, media_payloads):
    rows = {r["doc_id"]: r for r in resize_images(media_payloads, 8, 8).collect()}
    # images resized to canonical PPM at the target dims
    for doc_id, fill in ((1, 10), (2, 200)):
        assert rows[doc_id]["ok"]
        arr = decode_pnm(bytes(rows[doc_id]["payload"]))
        assert arr.shape == (8, 8, 3)
        assert (arr == fill).all()
    # audio/video/garbage rows are routed, not raised
    for doc_id in (0, 3, 4):
        assert not rows[doc_id]["ok"] and rows[doc_id]["payload"] is None
    # so are RIFF headers the wave module rejects (wave.Error at a
    # 12-byte cut, EOFError at 20)
    wav, _ = make_wav(n=100, rate=8000)
    bad = spark.createDataFrame([(5, wav[:12]), (6, wav[:20])], "doc_id long, payload binary")
    assert [r["ok"] for r in resize_images(bad, 8, 8).orderBy("doc_id").collect()] == [False, False]


def test_sample_frames_real(media_payloads):
    out = sample_frames(media_payloads, n_frames=2).collect()
    assert {r["doc_id"] for r in out} == {3}  # only the y4m row fans out
    got = {r["frame_idx"]: bytes(r["frame"]) for r in out}
    # evenly spaced deterministic indices floor(i * 5 / 2) = 0, 2
    assert set(got) == {0, 2}
    assert got[0] == bytes([0]) * 24 and got[2] == bytes([2]) * 24
    assert all(r["n_frames_total"] == 5 for r in out)


def test_audio_features_real(media_payloads):
    rows = audio_features(media_payloads).collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == 0
    _, pcm = make_wav(n=100, rate=8000)
    mono = pcm.astype(np.float64).mean(axis=1)
    assert rows[0]["rms"] == pytest.approx(float(np.sqrt(np.mean(mono**2))))
    assert rows[0]["peak"] == int(np.max(np.abs(pcm)))
    assert rows[0]["zero_crossings"] == int(
        np.sum(np.signbit(mono[1:]) != np.signbit(mono[:-1]))
    )


# ------------------------------ PNG decode ------------------------------ #

import zlib

from datax_spark.functions.multimodal import decode_png, encode_png


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + ctype + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def make_png(scanlines, w, h, depth=8, color=2, plte=None, trns=None,
             interlace=0):
    """Hand-built PNG: ``scanlines`` = list of (filter_type, raw_bytes)
    per row AS FILTERED ON DISK — exercises the unfilter paths exactly."""
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    body = b"".join(bytes([f]) + bytes(line) for f, line in scanlines)
    out = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _chunk(b"PLTE", plte)
    if trns is not None:
        out += _chunk(b"tRNS", trns)
    return out + _chunk(b"IDAT", zlib.compress(body)) + _chunk(b"IEND", b"")


def test_png_all_five_filters_golden():
    """3x5 RGB image, one row per filter type, unfiltered by hand."""
    r0 = [10, 20, 30, 40, 50, 60, 70, 80, 90]       # none: literal
    # sub: raw[i] += recon[i-3]
    r1_recon = [5, 5, 5, 15, 25, 35, 35, 65, 95]
    r1_raw = [5, 5, 5, 10, 20, 30, 20, 40, 60]
    # up: raw[i] += prev[i]  (prev = r1_recon)
    r2_recon = [(a + b) & 0xFF for a, b in zip([1] * 9, r1_recon)]
    r2_raw = [1] * 9
    # average: raw[i] += (left + up) >> 1
    r3_raw = [7, 9, 11, 2, 4, 6, 8, 10, 12]
    r3_recon = []
    for i in range(9):
        left = r3_recon[i - 3] if i >= 3 else 0
        r3_recon.append((r3_raw[i] + ((left + r2_recon[i]) >> 1)) & 0xFF)
    # paeth: raw[i] += paeth(left, up, upleft)
    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    r4_raw = [3, 1, 4, 1, 5, 9, 2, 6, 5]
    r4_recon = []
    for i in range(9):
        a = r4_recon[i - 3] if i >= 3 else 0
        b = r3_recon[i]
        c = r3_recon[i - 3] if i >= 3 else 0
        r4_recon.append((r4_raw[i] + paeth(a, b, c)) & 0xFF)

    png = make_png(
        [(0, r0), (1, r1_raw), (2, r2_raw), (3, r3_raw), (4, r4_raw)],
        w=3, h=5, color=2,
    )
    got = decode_png(png)
    want = np.array(
        [r0, r1_recon, r2_recon, r3_recon, r4_recon], dtype=np.uint8
    ).reshape(5, 3, 3)
    assert got.dtype == np.uint8 and got.shape == (5, 3, 3)
    assert (got == want).all()


def test_png_palette_and_trns():
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
    png = make_png([(0, [0, 1]), (0, [2, 0])], w=2, h=2, depth=8, color=3,
                   plte=plte)
    got = decode_png(png)
    assert got.shape == (2, 2, 3)
    assert got[0, 0].tolist() == [255, 0, 0] and got[1, 0].tolist() == [0, 0, 255]
    # tRNS: entry 0 transparent -> RGBA output
    got_a = decode_png(
        make_png([(0, [0, 1]), (0, [2, 0])], w=2, h=2, depth=8, color=3,
                 plte=plte, trns=bytes([0]))
    )
    assert got_a.shape == (2, 2, 4)
    assert got_a[0, 0, 3] == 0 and got_a[0, 1, 3] == 255


def test_png_subbyte_gray_depths():
    # depth 1: w=10 pixels pack into 2 bytes/row big-endian
    row = [0b10110010, 0b01000000]
    got = decode_png(make_png([(0, row)], w=10, h=1, depth=1, color=0))
    assert got.shape == (1, 10)
    assert got[0].tolist() == [255, 0, 255, 255, 0, 0, 255, 0, 0, 255]
    # depth 4: two pixels per byte, scale 17
    got4 = decode_png(make_png([(0, [0x5A, 0xF0])], w=3, h=1, depth=4, color=0))
    assert got4[0].tolist() == [5 * 17, 10 * 17, 15 * 17]


def test_png_gray_alpha_and_rgba_roundtrip():
    rng = np.random.RandomState(7)
    for shape in ((5, 4), (5, 4, 2), (5, 4, 3), (5, 4, 4)):
        arr = rng.randint(0, 256, size=shape).astype(np.uint8)
        out = decode_png(encode_png(arr))
        assert (out.reshape(arr.shape) == arr).all(), shape
    # deterministic re-encode: byte-identical
    arr = rng.randint(0, 256, size=(8, 8, 3)).astype(np.uint8)
    assert encode_png(arr) == encode_png(arr.copy())
    # every forward filter type round-trips through its unfilter
    for ft in range(5):
        assert (decode_png(encode_png(arr, filter_type=ft)) == arr).all(), ft


def test_png_rejections_and_damage():
    arr = np.zeros((2, 2, 3), dtype=np.uint8)
    good = encode_png(arr)
    # flip one IDAT byte -> CRC mismatch -> ValueError (dirty-routable)
    bad = bytearray(good)
    bad[len(good) - 20] ^= 0xFF
    with pytest.raises(ValueError):
        decode_png(bytes(bad))
    # truncated-but-CRC-consistent deflate stream: zlib.error must NOT
    # escape (it is not a ValueError subclass — uncaught it would kill
    # the whole mapInPandas task instead of dirty-routing)
    full = zlib.compress(b"\x00" + bytes(6) + b"\x00" + bytes(6))
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    trunc_png = (
        b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", full[:-4])  # valid chunk CRC over bad stream
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="inflate"):
        decode_png(trunc_png)
    # interlaced is supported now — but a stream with the WRONG byte
    # count for its pass structure must still dirty-route, and an
    # undefined interlace method is rejected
    with pytest.raises(ValueError, match="length mismatch"):
        decode_png(make_png([(0, [0] * 6)], w=2, h=1, color=2, interlace=1))
    with pytest.raises(ValueError, match="interlace"):
        decode_png(make_png([(0, [0] * 6)], w=2, h=1, color=2, interlace=2))
    # spec-invalid depth/color combination -> ValueError
    with pytest.raises(ValueError):
        decode_png(make_png([(0, [0] * 3)], w=2, h=1, depth=4, color=2))


def test_png_16bit_and_color_key():
    # 16-bit RGB: standard high-byte reduction; 0x1234 -> 0x12
    row = [0x12, 0x34, 0xAB, 0xCD, 0x00, 0xFF,   # pixel (0x12,0xAB,0x00)
           0xFF, 0x00, 0x01, 0x02, 0x80, 0x7F]   # pixel (0xFF,0x01,0x80)
    got = decode_png(make_png([(0, row)], w=2, h=1, depth=16, color=2))
    assert got.shape == (1, 2, 3)
    assert got[0, 0].tolist() == [0x12, 0xAB, 0x00]
    assert got[0, 1].tolist() == [0xFF, 0x01, 0x80]
    # 16-bit gray
    g16 = decode_png(make_png([(0, [0xBE, 0xEF])], w=1, h=1, depth=16, color=0))
    assert g16.shape == (1, 1) and g16[0, 0] == 0xBE
    # gray color key (8-bit): pixel == key -> alpha 0, output (h,w,2)
    keyed = decode_png(make_png(
        [(0, [7, 9])], w=2, h=1, depth=8, color=0,
        trns=struct.pack(">H", 7),
    ))
    assert keyed.shape == (1, 2, 2)
    assert keyed[0, 0].tolist() == [7, 0] and keyed[0, 1].tolist() == [9, 255]
    # RGB color key: full 16-bit compare BEFORE reduction — a pixel
    # whose high bytes match but low bytes differ stays opaque
    key = struct.pack(">HHH", 0x1234, 0xABCD, 0x00FF)
    rgb_keyed = decode_png(make_png([(0, row)], w=2, h=1, depth=16, color=2,
                                    trns=key))
    assert rgb_keyed.shape == (1, 2, 4)
    assert rgb_keyed[0, 0, 3] == 0 and rgb_keyed[0, 1, 3] == 255
    near_miss = list(row)
    near_miss[1] = 0x35  # 0x1235 != 0x1234, same high byte
    nm = decode_png(make_png([(0, near_miss)], w=2, h=1, depth=16, color=2,
                             trns=key))
    assert nm[0, 0, 3] == 255


def test_png_flows_through_pipeline_stages(spark):
    """decode_meta and resize_images treat PNG as a first-class image
    format now — and a damaged PNG dirty-routes instead of killing."""
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(6, 4, 3)).astype(np.uint8)
    good = encode_png(img)
    bad = bytearray(good)
    bad[30] ^= 0xFF
    df = spark.createDataFrame(
        [(0, bytearray(good)), (1, bytes(bad))], "doc_id long, payload binary"
    )
    meta = {r["doc_id"]: r for r in decode_meta(df).collect()}
    assert meta[0]["format"] == "png" and meta[0]["modality"] == "image"
    assert (meta[0]["width"], meta[0]["height"], meta[0]["n_channels"]) == (4, 6, 3)
    assert meta[1]["format"] == "png" and meta[1]["modality"] is None
    rs = {r["doc_id"]: r for r in resize_images(df, 8, 8).collect()}
    assert rs[0]["ok"] and decode_pnm(bytes(rs[0]["payload"])).shape == (8, 8, 3)
    assert not rs[1]["ok"] and rs[1]["payload"] is None
