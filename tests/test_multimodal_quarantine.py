"""The quarantine contract of the three multimodal kernels: a payload
the engine has no stdlib decoder for, or whose body is corrupt behind a
recognized magic, comes back flagged (``decode_ok`` / ``resize_ok`` /
``demux_ok`` = false, NULL outputs) and never aborts the task.

The samples below are VALID files of formats the kernels do not decode
(baseline JPEG, lossless WebP, GIF, Y4M, AVI/MJPEG, Adam7 and 16-bit
PNG), built from small byte literals or the committed Y4M golden file.
"""

import os
import struct
import zlib

import pandas as pd

from crypto_data_ingestion_module_spark.operators.multimodal import (
    decode_assets,
    decode_image_batch,
    make_resize_kernel,
    resize_assets,
    sample_frames,
    sample_frames_batch,
)

DATA = os.path.join(os.path.dirname(__file__), "data")


def _png_1x1(depth: int, interlace: int) -> bytes:
    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", 1, 1, depth, 2, 0, 0, interlace)
    raw = b"\x00" + bytes(3 * depth // 8)  # filter byte + one RGB pixel
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )


def _jpeg_8x8_gray() -> bytes:
    """Baseline JPEG of a flat 8x8 gray block: one DC and one AC table,
    each a single 1-bit code; the scan is DC diff 0 then EOB."""

    def seg(marker, body):
        return b"\xff" + bytes([marker]) + struct.pack(">H", len(body) + 2) + body

    one_code = bytes([1] + [0] * 15)
    return (
        b"\xff\xd8"
        + seg(0xDB, b"\x00" + bytes([1] * 64))
        + seg(0xC0, b"\x08" + struct.pack(">HH", 8, 8) + b"\x01\x01\x11\x00")
        + seg(0xC4, b"\x00" + one_code + b"\x00")
        + seg(0xC4, b"\x10" + one_code + b"\x00")
        + seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
        + b"\x3f\xff\xd9"
    )


def _avi_mjpeg(frame: bytes, handler: bytes = b"MJPG", streams: int = 1) -> bytes:
    def chunk(cid, data):
        return cid + struct.pack("<I", len(data)) + data + b"\x00" * (len(data) & 1)

    strl = chunk(b"LIST", b"strl" + chunk(b"strh", b"vids" + handler + bytes(48)))
    body = (
        b"AVI "
        + chunk(b"LIST", b"hdrl"
                + chunk(b"avih", struct.pack("<I", 40000) + bytes(52))
                + strl * streams)
        + chunk(b"LIST", b"movi" + chunk(b"00dc", frame))
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


#: lossless 1x1 WebP (VP8L, no transforms, single-symbol prefix codes)
WEBP_LOSSLESS = (
    b"RIFF\x18\x00\x00\x00WEBPVP8L\x0c\x00\x00\x00"
    b"/\x00\x00\x00\x00(H!\n\xd3\xff\x00"
)
#: 1x1 GIF89a with a 2-color global palette
GIF_1X1 = (
    b"GIF89a\x01\x00\x01\x00\x80\x00\x00\xff\xff\xff\x00\x00\x00"
    b",\x00\x00\x00\x00\x01\x00\x01\x00\x00\x02\x02D\x01\x00;"
)


def assert_quarantined(payload: bytes) -> None:
    """Run one payload through the batch functions the three kernels
    hand to ``mapInPandas`` (a one-row pandas batch, no Spark job) and
    assert each flags it with NULL outputs."""
    pdf = pd.DataFrame(
        {"asset_id": [1], "modality": ["video"], "payload": [payload]}
    )
    (dec,) = decode_image_batch(iter([pdf]))
    assert not dec["decode_ok"][0] and dec["features"][0] is None
    (rs,) = make_resize_kernel(2, 2)(iter([pdf]))
    assert not rs["resize_ok"][0] and rs["payload"][0] is None
    (fr,) = sample_frames_batch(iter([pdf]))
    assert len(fr) == 1 and not fr["demux_ok"][0] and fr["frame"][0] is None


def test_dropped_formats_quarantine_in_all_three_kernels(spark):
    """Every sample is a valid file of its format; none has a decoder
    here, so each asset comes back quarantined from decode, resize and
    frame sampling alike.  A P6 row in the same batch still decodes."""
    jpeg = _jpeg_8x8_gray()
    samples = {
        1: jpeg,
        2: WEBP_LOSSLESS,
        3: GIF_1X1,
        4: open(os.path.join(DATA, "golden_2f_ntsc.y4m"), "rb").read(),
        5: _avi_mjpeg(jpeg),
        6: _png_1x1(depth=8, interlace=1),
        7: _png_1x1(depth=16, interlace=0),
    }
    p6 = b"P6\n2 2\n255\n" + bytes(range(12))
    assets = spark.createDataFrame(
        [(aid, "video", bytearray(p)) for aid, p in samples.items()]
        + [(8, "video", bytearray(p6))],
        "asset_id long, modality string, payload binary",
    )
    dec = {r["asset_id"]: r for r in decode_assets(assets).collect()}
    rs = {r["asset_id"]: r for r in resize_assets(assets, 2, 2).collect()}
    frames = {}
    for r in sample_frames(assets).collect():
        frames.setdefault(r["asset_id"], []).append(r)
    for aid in samples:
        assert dec[aid]["decode_ok"] is False, aid
        assert dec[aid]["width"] is None and dec[aid]["features"] is None, aid
        assert rs[aid]["resize_ok"] is False, aid
        assert rs[aid]["payload"] is None, aid
        assert len(frames[aid]) == 1, aid
        assert frames[aid][0]["demux_ok"] is False, aid
        assert frames[aid][0]["frame"] is None, aid
    assert dec[8]["decode_ok"] is True and (dec[8]["width"], dec[8]["height"]) == (2, 2)
    assert rs[8]["resize_ok"] is True
    assert [r["demux_ok"] for r in frames[8]] == [True]


def test_kernels_quarantine_corrupt_recognized_containers(spark):
    """The quarantine is TOTAL: a payload whose magic sniffs as a known
    container but whose body is corrupt must come back flagged from ALL
    THREE kernels, never abort the task — one dirty scraped asset must
    not poison the stage.  The direct decoders keep raising."""
    good = b"P6\n4 4\n255\n" + bytes(range(48))
    corrupt_p6 = good[:-5]                          # truncated raster
    corrupt_png = b"\x89PNG\r\n\x1a\nnot-a-chunk"
    corrupt_stream = good + b"P6\n4 4\n255\n" + bytes(7)  # truncated frame 2
    assets = spark.createDataFrame(
        [
            (1, "video", bytearray(good)),
            (2, "video", bytearray(corrupt_p6)),
            (3, "video", bytearray(corrupt_png)),
            (4, "video", bytearray(corrupt_stream)),
        ],
        "asset_id long, modality string, payload binary",
    )
    dec = {r["asset_id"]: r for r in decode_assets(assets).collect()}
    assert dec[1]["decode_ok"] is True
    for aid in (2, 3):
        assert dec[aid]["decode_ok"] is False and dec[aid]["features"] is None
    rs = {r["asset_id"]: r for r in resize_assets(assets, 2, 2).collect()}
    assert rs[1]["resize_ok"] is True
    for aid in (2, 3):
        assert rs[aid]["resize_ok"] is False and rs[aid]["payload"] is None
    by = {}
    for r in sample_frames(assets).collect():
        by.setdefault(r["asset_id"], []).append(r)
    assert len(by[1]) == 1 and by[1][0]["demux_ok"] is True
    for aid in (2, 3, 4):
        # fully demuxed before emitting: no partial frames leak out
        assert len(by[aid]) == 1 and by[aid][0]["demux_ok"] is False
