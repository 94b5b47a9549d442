"""AVI payloads have no demuxer in the engine: a valid AVI/MJPEG
quarantines (``test_multimodal_quarantine``), and so must other codecs,
multi-stream files and corrupt files behind the same RIFF/AVI magic."""

from tests.test_multimodal_quarantine import (
    _avi_mjpeg,
    _jpeg_8x8_gray,
    assert_quarantined,
)


def test_avi_rejects_non_mjpeg_codecs_loudly():
    jpeg = _jpeg_8x8_gray()
    assert_quarantined(_avi_mjpeg(jpeg, handler=b"DIVX"))
    assert_quarantined(b"RIFF\x04\x00\x00\x00AVI ")  # empty body
    assert_quarantined(_avi_mjpeg(jpeg)[:-10])  # truncated


def test_avi_rejects_multiple_video_streams_loudly():
    """Two vids/MJPG streams share no single per-frame clock, so the
    file quarantines rather than interleaving both streams' frames."""
    two = _avi_mjpeg(_jpeg_8x8_gray(), streams=2)
    assert two.count(b"strl") == 2
    assert_quarantined(two)
