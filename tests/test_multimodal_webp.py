"""WebP payloads have no decoder in the engine: a valid lossless (VP8L)
WebP quarantines (``test_multimodal_quarantine``), and so do lossy VP8,
extended VP8X and corrupt VP8L files behind the same RIFF/WEBP magic."""

import struct

from tests.test_multimodal_quarantine import WEBP_LOSSLESS, assert_quarantined


def _wrap_riff(payload: bytes, chunk: bytes = b"VP8L") -> bytes:
    body = chunk + struct.pack("<I", len(payload)) + payload
    body += b"\x00" * (len(payload) & 1)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body


def test_vp8_and_vp8x_quarantine_loudly():
    assert_quarantined(_wrap_riff(b"\x00" * 20, chunk=b"VP8 "))
    assert_quarantined(_wrap_riff(b"\x00" * 10, chunk=b"VP8X"))
    assert_quarantined(_wrap_riff(b"\x2f\x00"))  # truncated VP8L
    assert_quarantined(WEBP_LOSSLESS[:-4])  # VP8L bitstream cut short
