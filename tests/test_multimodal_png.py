"""REAL PNG decode (VERDICT r10 item 3): the pure-stdlib chunk-walk +
zlib-inflate + unfilter path, pinned against an INDEPENDENTLY
constructed PNG.

The encoder below lives in the TEST and shares no code with the
decoder: it picks explicit filter types per scanline (all five spec
filters get exercised), computes the filtered bytes with plain Python
byte loops, and assembles chunks with struct+zlib — so a decode bug
cannot cancel against an encode bug.  Feature parity with the P6 path
(same pixels, two containers, identical features) pins the shared
grid-luminance kernel.
"""

import struct
import zlib

import pytest

from crypto_data_ingestion_module_spark.operators.multimodal import (
    FEATURE_DIM,
    _decode_any,
    decode_png_bytes,
    decode_ppm_bytes,
    is_png,
    png_to_ppm,
    png_to_rgb,
    resize_ppm_bytes,
)


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def _paeth(a, b, c):
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _filter_scanlines(pixel_rows, bpp, filters):
    """Filter an image's scanlines with plain byte loops; the
    previous-row context starts at zeros."""
    raw = bytearray()
    for y, ft in enumerate(filters):
        cur = pixel_rows[y]
        prev = pixel_rows[y - 1] if y else [0] * len(cur)
        raw.append(ft)
        for x in range(len(cur)):
            a = cur[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if (y and x >= bpp) else 0
            v = cur[x]
            if ft == 0:
                f = v
            elif ft == 1:
                f = (v - a) & 0xFF
            elif ft == 2:
                f = (v - b) & 0xFF
            elif ft == 3:
                f = (v - ((a + b) >> 1)) & 0xFF
            else:
                f = (v - _paeth(a, b, c)) & 0xFF
            raw.append(f)
    return raw


def _flat_rows(pixels):
    return [
        [c for px in row for c in (px if isinstance(px, tuple) else (px,))]
        for row in pixels
    ]


def _assemble_png(raw, w, h, color_type, palette):
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    if palette is not None:
        out += _chunk(b"PLTE", bytes(c for rgb in palette for c in rgb))
    # split IDAT to prove multi-chunk concatenation works
    z = zlib.compress(bytes(raw))
    mid = len(z) // 2
    out += _chunk(b"IDAT", z[:mid]) + _chunk(b"IDAT", z[mid:])
    return out + _chunk(b"IEND", b"")


def _encode_png(pixels, color_type, filters, palette=None):
    """Independent stdlib PNG writer.  ``pixels[y][x]`` is a tuple of
    ``channels`` ints; ``filters[y]`` picks that scanline's filter."""
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    h, w = len(pixels), len(pixels[0])
    raw = _filter_scanlines(_flat_rows(pixels), channels, filters)
    return _assemble_png(raw, w, h, color_type, palette)


def _gradient_rgb(w, h):
    return [
        [((x * 17 + y) % 256, (y * 23 + 2 * x) % 256, (x * y) % 256) for x in range(w)]
        for y in range(h)
    ]


def test_rgb_png_roundtrips_all_five_filters():
    pixels = _gradient_rgb(9, 10)
    # every spec filter type appears at least twice
    filters = [0, 1, 2, 3, 4, 4, 3, 2, 1, 0]
    png = _encode_png(pixels, 2, filters)
    assert is_png(png)
    rgb = png_to_rgb(png)
    assert rgb.shape == (10, 9, 3)
    got = [[tuple(int(c) for c in rgb[y, x]) for x in range(9)] for y in range(10)]
    assert got == pixels


def test_png_and_ppm_same_pixels_same_features():
    pixels = _gradient_rgb(12, 8)
    png = _encode_png(pixels, 2, [4, 3, 2, 1, 0, 4, 2, 1])
    ppm = b"P6\n12 8\n255\n" + bytes(
        c for row in pixels for px in row for c in px
    )
    w1, h1, f_png = decode_png_bytes(png)
    w2, h2, f_ppm = decode_ppm_bytes(ppm)
    assert (w1, h1) == (w2, h2) == (12, 8)
    assert f_png == f_ppm and len(f_png) == FEATURE_DIM
    # and the transcode feeds the REAL resizer: resized PNG == resized
    # PPM byte-for-byte (both are P6 out of the same box-average kernel)
    assert resize_ppm_bytes(png_to_ppm(png), 4, 4) == resize_ppm_bytes(
        ppm, 4, 4
    )


def test_gray_alpha_and_palette_color_types():
    gray = [[(x * 25 + y) % 256 for x in range(6)] for y in range(5)]
    png0 = _encode_png([[(g,) for g in row] for row in gray], 0, [0, 1, 2, 3, 4])
    rgb0 = png_to_rgb(png0)
    assert [[int(rgb0[y, x, 0]) for x in range(6)] for y in range(5)] == gray
    assert (rgb0[:, :, 0] == rgb0[:, :, 1]).all() and (
        rgb0[:, :, 1] == rgb0[:, :, 2]
    ).all()

    # gray+alpha: alpha dropped, gray replicated
    ga = [[(g, 128 + g % 100) for g in row] for row in gray]
    rgb4 = png_to_rgb(_encode_png(ga, 4, [0, 2, 4, 1, 3]))
    assert [[int(rgb4[y, x, 0]) for x in range(6)] for y in range(5)] == gray

    # RGBA: alpha dropped
    rgba = [
        [(r, g, b, (r + g) % 256) for (r, g, b) in row]
        for row in _gradient_rgb(6, 5)
    ]
    rgb6 = png_to_rgb(_encode_png(rgba, 6, [4, 4, 4, 4, 4]))
    want = _gradient_rgb(6, 5)
    assert [
        [tuple(int(c) for c in rgb6[y, x]) for x in range(6)] for y in range(5)
    ] == want

    # palette: indices resolve through PLTE
    palette = [(250, 10, 5), (0, 128, 255), (77, 77, 77), (1, 2, 3)]
    idx = [[(x + y) % 4 for x in range(6)] for y in range(5)]
    png3 = _encode_png(
        [[(i,) for i in row] for row in idx], 3, [0, 1, 2, 3, 4], palette
    )
    rgb3 = png_to_rgb(png3)
    assert [
        [tuple(int(c) for c in rgb3[y, x]) for x in range(6)] for y in range(5)
    ] == [[palette[i] for i in row] for row in idx]


def test_unsupported_profiles_reject_loudly():
    pixels = _gradient_rgb(4, 4)
    png = _encode_png(pixels, 2, [0, 0, 0, 0])
    # IHDR field offsets: 8 sig + 8 chunk header, then depth at +8 and
    # interlace at +12
    assert png[16 + 8] == 8 and png[16 + 12] == 0
    for offset, value, reason in (
        (12, 1, "interlace"),  # Adam7 is not decoded
        (12, 7, "interlace"),  # undefined interlace method
        (8, 16, "bit depth"),  # 16-bit samples are not decoded
        (8, 4, "bit depth"),   # nor sub-byte depths
    ):
        bad = bytearray(png)
        bad[16 + offset] = value
        with pytest.raises(ValueError, match=reason):
            png_to_rgb(bytes(bad))
    with pytest.raises(ValueError):
        png_to_rgb(b"\x89PNG\r\n\x1a\nnot-a-chunk")
    assert not is_png(b"P6\n1 1\n255\n\x00\x00\x00")


def test_16bit_palette_rejects():
    """Spec §11.2.2: palette images allow depths 1/2/4/8 only; 16-bit
    samples are not decoded here at all, so the file rejects on depth
    and quarantines in the kernels."""
    palette = [(1, 2, 3), (4, 5, 6)]
    idx = [[(i % 2,) for i in range(4)] for _ in range(4)]
    png = bytearray(_encode_png(idx, 3, [0, 0, 0, 0], palette))
    png[16 + 8] = 16  # depth byte
    with pytest.raises(ValueError, match="bit depth"):
        png_to_rgb(bytes(png))
    assert _decode_any(bytes(png)) == (False, None, None, None)


def test_raster_length_must_match_ihdr():
    """Quarantine contract: a raster that isn't exactly the
    ``height * (width * bpp + 1)`` bytes IHDR declares is corrupt —
    truncated or padded, it rejects instead of rendering a prefix, and
    a zero width or height rejects too."""
    raw = _filter_scanlines(_flat_rows(_gradient_rgb(9, 9)), 3, [0] * 9)
    assert png_to_rgb(_assemble_png(raw, 9, 9, 2, None)).shape == (9, 9, 3)
    with pytest.raises(ValueError, match="mismatch"):
        png_to_rgb(_assemble_png(raw[:-7], 9, 9, 2, None))  # truncated
    with pytest.raises(ValueError, match="mismatch"):
        png_to_rgb(_assemble_png(raw + b"\x00\x00", 9, 9, 2, None))  # padded
    for w, h in ((0, 9), (9, 0)):
        with pytest.raises(ValueError, match="dimensions"):
            png_to_rgb(_assemble_png(b"", w, h, 2, None))
    ok, width, height, feats = _decode_any(
        _assemble_png(raw + b"\x00", 9, 9, 2, None)
    )
    assert (ok, width, height, feats) == (False, None, None, None)


def test_inflate_is_bounded_by_the_declared_raster():
    """A 1x1 IHDR over an 8 MB zero raster (an 8 KB file) is rejected
    after inflating at most one byte past the 4-byte raster, so the
    decode never allocates the bomb's full output."""
    import tracemalloc

    bomb = _assemble_png(bytes(8 << 20), 1, 1, 2, None)
    assert len(bomb) < 16 << 10
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="mismatch"):
            png_to_rgb(bomb)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20, peak


def test_decode_assets_dispatches_png(spark):
    """End-to-end through the Spark mapInPandas plumbing: a PNG payload
    row comes back with REAL width/height/features (equal to the same
    pixels' P6 row), alongside a quarantined opaque row."""
    from crypto_data_ingestion_module_spark.operators.multimodal import (
        decode_assets,
    )

    pixels = _gradient_rgb(12, 8)
    png = _encode_png(pixels, 2, [0, 1, 2, 3, 4, 0, 1, 2])
    ppm = b"P6\n12 8\n255\n" + bytes(
        c for row in pixels for px in row for c in px
    )
    rows = [
        (1, "image", bytearray(png)),
        (2, "image", bytearray(ppm)),
        (3, "video", bytearray(b"\x00opaque-not-a-container")),
    ]
    assets = spark.createDataFrame(
        rows, "asset_id long, modality string, payload binary"
    )
    out = {r["asset_id"]: r for r in decode_assets(assets).collect()}
    assert out[1]["width"] == out[2]["width"] == 12
    assert out[1]["height"] == out[2]["height"] == 8
    assert out[1]["features"] == out[2]["features"]
    # the opaque row is quarantined (r12): flagged, nothing fabricated
    assert out[3]["decode_ok"] is False and out[3]["features"] is None

    # the resize kernel transcodes PNG onto the real P6 resampler:
    # through Spark, the PNG row and the PPM row of the same pixels
    # come back as the SAME P6 payload
    from crypto_data_ingestion_module_spark.operators.multimodal import (
        RESIZED_SCHEMA,
        make_resize_kernel,
    )

    rz = {
        r["asset_id"]: bytes(r["payload"])
        for r in assets.filter("asset_id <= 2")
        .mapInPandas(make_resize_kernel(4, 4), schema=RESIZED_SCHEMA)
        .collect()
    }
    assert rz[1] == rz[2] and rz[1][:2] == b"P6"
