"""REAL video demux: the concatenated-P6 stream path of the frame
sampler (VERDICT r9 item 5), golden-file pinned, end-to-end through the
Spark mapInPandas plumbing.

Same discipline as test_multimodal_wav.py / test_multimodal_ppm.py:
the golden file is a COMMITTED real multi-frame container
(tests/data/golden_stream_3f.p6s — three back-to-back binary PPM
frames of DIFFERENT sizes, one with a header comment, one with
maxval 200); expected frame boundaries are recomputed here with an
independent stdlib-only parser, so kernel and oracle share no code.
"""

import os

import pytest

from crypto_data_ingestion_module_spark.operators.multimodal import (
    decode_ppm_bytes,
    demux_ppm_stream,
    is_ppm,
    sample_frames,
)

DATA = os.path.join(os.path.dirname(__file__), "data")
STREAM = os.path.join(DATA, "golden_stream_3f.p6s")


def _oracle_split(payload):
    """Independent pure-stdlib splitter: walk P6 headers byte-by-byte
    (comments included) and slice one standalone frame per image."""
    frames, off = [], 0
    while off < len(payload):
        assert payload[off : off + 2] == b"P6"
        i, toks = off + 2, []
        while len(toks) < 3:
            while payload[i : i + 1].isspace():
                i += 1
            if payload[i : i + 1] == b"#":
                while payload[i] not in (10, 13):
                    i += 1
                continue
            j = i
            while not payload[j : j + 1].isspace():
                j += 1
            toks.append(int(payload[i:j]))
            i = j
        w, h, _maxval = toks
        end = i + 1 + 3 * w * h
        frames.append(payload[off:end])
        off = end
    return frames


def test_demux_matches_independent_oracle():
    payload = open(STREAM, "rb").read()
    want = _oracle_split(payload)
    got = demux_ppm_stream(payload)
    assert got == want
    assert len(got) == 3
    # every emitted frame is a standalone, fully valid P6 the real
    # image decoder consumes directly — heterogeneous sizes preserved
    dims = [decode_ppm_bytes(f)[:2] for f in got]
    assert dims == [(4, 3), (2, 2), (5, 1)]


def test_demux_rejects_truncated_and_foreign_bytes():
    payload = open(STREAM, "rb").read()
    with pytest.raises(ValueError, match="truncated"):
        demux_ppm_stream(payload[:-5])
    with pytest.raises(ValueError, match="expected a P6"):
        demux_ppm_stream(payload + b"JUNKJUNK")


def test_y4m_rejects_unsupported_colorspace_and_truncation():
    """Y4M has no demuxer here: the committed golden file, a truncated
    copy and a copy with an unsupported colorspace all quarantine."""
    from tests.test_multimodal_quarantine import assert_quarantined

    payload = open(os.path.join(DATA, "golden_2f_ntsc.y4m"), "rb").read()
    assert payload.startswith(b"YUV4MPEG2 ") and b"C420jpeg" in payload
    assert_quarantined(payload)
    assert_quarantined(payload[:-3])
    assert_quarantined(payload.replace(b"C420jpeg", b"C422tool", 1))


def test_sample_frames_expands_real_stream_end_to_end(spark):
    # 1→N through the Spark kernel: the P6 stream expands to its TRUE
    # frame count at the documented 25 fps timestamps; a non-P6 payload
    # in the same micro-batch is quarantined (r12 — never faked).
    payload = open(STREAM, "rb").read()
    opaque = b"\x00not-a-p6-container" + bytes(range(64))
    assets = spark.createDataFrame(
        [(1, "video", bytearray(payload)), (2, "video", bytearray(opaque))],
        "asset_id long, modality string, payload binary",
    )
    rows = sample_frames(assets).orderBy("asset_id", "frame_idx").collect()
    real = [r for r in rows if r["asset_id"] == 1]
    assert [r["frame_idx"] for r in real] == [0, 1, 2]
    assert [r["ts_ms"] for r in real] == [0, 40, 80]  # 25 fps
    want = _oracle_split(payload)
    assert [bytes(r["frame"]) for r in real] == want
    assert all(is_ppm(bytes(r["frame"])) for r in real)
    # the opaque asset surfaced as ONE quarantine row, nothing faked
    quarantined = [r for r in rows if r["asset_id"] == 2]
    assert len(quarantined) == 1
    assert quarantined[0]["demux_ok"] is False
    assert quarantined[0]["frame"] is None


def test_single_image_is_a_one_frame_stream(spark):
    single = _oracle_split(open(STREAM, "rb").read())[0]
    assets = spark.createDataFrame(
        [(7, "video", bytearray(single))],
        "asset_id long, modality string, payload binary",
    )
    rows = sample_frames(assets).collect()
    assert len(rows) == 1
    assert rows[0]["frame_idx"] == 0 and rows[0]["ts_ms"] == 0
    assert bytes(rows[0]["frame"]) == bytes(single)
