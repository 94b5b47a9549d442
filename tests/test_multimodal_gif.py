"""GIF payloads have no decoder in the engine: a valid GIF quarantines
(``test_multimodal_quarantine``), and so must a corrupt one behind the
same GIF89a magic."""

from tests.test_multimodal_quarantine import GIF_1X1, assert_quarantined


def test_gif_rejections_are_loud():
    assert GIF_1X1.endswith(b"\x00;")
    # truncated LZW stream: the data sub-block ends without terminator
    assert_quarantined(GIF_1X1[:-4] + b"\x00;")
    assert_quarantined(b"GIF89a" + GIF_1X1[6:10])  # truncated header
    assert_quarantined(b"not a gif at all")
