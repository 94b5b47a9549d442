"""REAL image decode + resize: the PPM (P6) path of the multimodal
kernels, golden-file pinned, end-to-end through the Spark mapInPandas
plumbing.

Same discipline as test_multimodal_wav.py: the golden files are
COMMITTED real P6 containers (tests/data/golden_*.ppm); expected
features and resized rasters are recomputed here with an independent
stdlib-only implementation (byte loops, no numpy), so kernel and oracle
share no code.
"""

import os

import pytest

from crypto_data_ingestion_module_spark.operators.multimodal import (
    FEATURE_DIM,
    _decode_any,
    decode_assets,
    decode_ppm_bytes,
    is_ppm,
    resize_assets,
    resize_ppm_bytes,
)

DATA = os.path.join(os.path.dirname(__file__), "data")
GRADIENT = os.path.join(DATA, "golden_gradient_12x8.ppm")
COMMENTED = os.path.join(DATA, "golden_comment_5x5.ppm")


def _oracle_parse(payload):
    """Independent pure-stdlib P6 parse -> (w, h, maxval, pixels) where
    pixels[y][x] = (r, g, b)."""
    assert payload[:2] == b"P6"
    i, toks = 2, []
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
    w, h, mx = toks
    raster = payload[i + 1 : i + 1 + 3 * w * h]
    rows = []
    for y in range(h):
        rows.append(
            [
                tuple(raster[3 * (y * w + x) + c] for c in range(3))
                for x in range(w)
            ]
        )
    return w, h, mx, rows


def _oracle_features(payload):
    w, h, mx, px = _oracle_parse(payload)
    side = int(FEATURE_DIM**0.5)
    feats = []
    for gy in range(side):
        for gx in range(side):
            cells = [
                299 * px[y][x][0] + 587 * px[y][x][1] + 114 * px[y][x][2]
                for y in range(gy * h // side, (gy + 1) * h // side)
                for x in range(gx * w // side, (gx + 1) * w // side)
            ]
            feats.append(
                round(sum(cells) / len(cells) / (1000.0 * mx), 6)
                if cells
                else 0.0
            )
    return w, h, feats


@pytest.mark.parametrize("path", [GRADIENT, COMMENTED])
def test_decode_ppm_matches_independent_oracle(path):
    payload = open(path, "rb").read()
    assert is_ppm(payload)
    assert decode_ppm_bytes(payload) == _oracle_features(payload)


def test_header_comments_and_maxval_are_honored():
    payload = open(COMMENTED, "rb").read()
    w, h, feats = decode_ppm_bytes(payload)
    assert (w, h) == (5, 5)
    # maxval is 200, so a full-scale pixel normalizes to 1.0, not 200/255
    assert all(0.0 <= f <= 1.0 for f in feats)


def test_resize_box_average_exact():
    # 12x8 -> 3x2: target pixel = mean of a 4x4 source box; recompute
    # with pure-python loops and compare byte-for-byte.
    payload = open(GRADIENT, "rb").read()
    out = resize_ppm_bytes(payload, 3, 2)
    w, h, mx, px = _oracle_parse(payload)
    ow, oh, omx, opx = _oracle_parse(out)
    assert (ow, oh, omx) == (3, 2, mx)
    for ty in range(2):
        for tx in range(3):
            box = [
                px[y][x]
                for y in range(ty * h // 2, (ty + 1) * h // 2)
                for x in range(tx * w // 3, (tx + 1) * w // 3)
            ]
            want = tuple(
                int(sum(p[c] for p in box) / len(box) + 0.5) for c in range(3)
            )
            assert opx[ty][tx] == want, (tx, ty)


def test_resize_roundtrip_is_valid_ppm_and_upscale_works():
    payload = open(COMMENTED, "rb").read()
    up = resize_ppm_bytes(payload, 10, 10)
    w, h, feats = decode_ppm_bytes(up)  # re-decodable: valid container
    assert (w, h) == (10, 10)
    # nearest-neighbor duplication on upscale: corner pixel preserved
    _, _, mx, src = _oracle_parse(payload)
    _, _, _, dst = _oracle_parse(up)
    assert dst[0][0] == src[0][0]
    assert dst[9][9] == src[4][4]


def test_ppm_decode_end_to_end_through_spark_plumbing(spark):
    payload = open(GRADIENT, "rb").read()
    assets = spark.createDataFrame(
        [(1, "image", bytearray(payload))],
        "asset_id long, modality string, payload binary",
    )
    row = decode_assets(assets).collect()[0]
    w, h, feats = _oracle_features(payload)
    assert (row["width"], row["height"]) == (w, h)
    assert [round(f, 6) for f in row["features"]] == pytest.approx(
        feats, abs=1e-6
    )
    resized = resize_assets(assets, 3, 2).collect()[0]
    assert bytes(resized["payload"]) == resize_ppm_bytes(payload, 3, 2)


@pytest.mark.parametrize("width", [b"-1", b"0", b"+2"])
def test_header_rejects_signed_and_non_positive_dimensions(width):
    """Header tokens are plain ASCII digits and dimensions are at least
    1: a signed or zero width never yields fabricated output."""
    payload = b"P6 " + width + b" 1 255\n" + bytes(30)
    with pytest.raises(ValueError):
        decode_ppm_bytes(payload)
    with pytest.raises(ValueError):
        resize_ppm_bytes(payload, 2, 2)
    assert _decode_any(payload) == (False, None, None, None)
