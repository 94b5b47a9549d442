"""JPEG payloads have no decoder in the engine: a valid baseline JPEG
quarantines (``test_multimodal_quarantine``), and so must every
malformed or unsupported variant behind the same SOI magic.  None may
raise out of a kernel or come back as zero-filled pixels."""

from tests.test_multimodal_quarantine import _jpeg_8x8_gray, assert_quarantined


def _with_sof(payload: bytes, marker: int) -> bytes:
    out = bytearray(payload)
    out[out.index(b"\xff\xc0") + 1] = marker
    return bytes(out)


def test_unsupported_profiles_reject_loudly():
    jpeg = _jpeg_8x8_gray()
    assert_quarantined(_with_sof(jpeg, 0xC3))  # lossless coding process
    # progressive frame with a full-band Ss=0..Se=63 scan: structurally
    # invalid, never misdecoded
    assert_quarantined(_with_sof(jpeg, 0xC2))
    assert_quarantined(jpeg[:-3])  # entropy stream and EOI cut off


def test_entropy_cut_before_eoi_rejects_not_zero_fills():
    """Remove the entropy bytes but KEEP the EOI marker: the payload
    quarantines instead of decoding padded zeros into pixels."""
    jpeg = _jpeg_8x8_gray()
    assert jpeg.endswith(b"\xff\xd9")
    assert_quarantined(jpeg[:-3] + jpeg[-2:])


def test_progressive_truncated_scan_rejects():
    # progressive DC-first scan header (Ss=Se=0), then the stream ends
    jpeg = _with_sof(_jpeg_8x8_gray(), 0xC2)
    sos = jpeg.index(b"\xff\xda")
    prog = jpeg[: sos + 4] + b"\x01\x01\x00\x00\x00\x00" + b"\x7f\xff\xd9"
    assert_quarantined(prog)
    assert_quarantined(prog[: sos + 10])
