"""Multimodal column plumbing (north-star X5): opaque binary payloads with
typed metadata, processed by Arrow-batched Pandas UDFs via ``mapInPandas``.

Three kernels share one schema discipline: ``decode_assets`` (1→1 rows,
dimensions + FEATURE_DIM features), ``resize_assets`` (1→1 rows, a P6
payload at a fixed size) and ``sample_frames`` (1→N frame rows per video
asset).  Real decode covers only the formats the standard library makes
trivial:

* AUDIO: PCM WAV (8/16-bit) through the stdlib ``wave`` module; the
  features are a FEATURE_DIM-bin amplitude envelope.
* IMAGE: binary PPM (P6), read straight off the raster, and 8-bit
  non-interlaced PNG (all five color types, all five scanline filters)
  through a chunk walk, a bounded ``zlib`` inflate and per-row
  unfiltering.  Both land in the same grid-luminance feature kernel, and
  resize is integer box-average resampling that emits a valid P6 (PNG is
  transcoded to P6 first).
* VIDEO: concatenated-P6 streams (``demux_ppm_stream``: back-to-back P6
  frames at a nominal 25 fps); every frame is a standalone valid P6.

QUARANTINE CONTRACT (r12 — the fake-decode seam is retired): a payload
that is NOT one of the recognized containers is never given fabricated
output.  Decode returns ``decode_ok = false`` with NULL width/height/
features; resize returns ``resize_ok = false`` with a NULL payload;
frame sampling emits one ``demux_ok = false`` row with a NULL frame.
Real containers without a stdlib decoder (JPEG, WebP, GIF, Y4M, AVI,
MP4, interlaced or 16-bit PNG) therefore stay VISIBLE downstream
instead of flowing as synthetic data; the schema, 1→N expansion
bookkeeping, and bounded-memory batch discipline are identical on every
path, so a PIL or PyAV decoder drops in per format by adding one sniff
+ one branch.

Scale design: ``mapInPandas`` streams Arrow record batches, so executor
memory is bounded by batch size, not partition size; payload bytes stay
off the driver entirely.  Repartition by ``asset_id`` before heavy decode
so work spreads evenly; feature outputs are small fixed-size arrays,
shrinking data volume through the pipeline.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 16

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def is_wav(payload: bytes) -> bool:
    """RIFF/WAVE container sniff (the cheap dispatch a mixed-modality
    lake needs before spending decode work)."""
    return (
        len(payload) >= 12
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"WAVE"
    )


def decode_wav_bytes(payload: bytes) -> tuple[int, int, list[float]]:
    """REAL pure-stdlib audio decode: PCM WAV → (sample_rate, n_frames,
    FEATURE_DIM-bin amplitude envelope).

    ``wave`` parses the RIFF container; samples go through one numpy
    pass (Arrow-batch friendly — no per-sample Python).  Multi-channel
    audio is mixed down by per-frame mean; the envelope is the mean
    absolute amplitude of FEATURE_DIM equal time bins, normalized to
    [0, 1] by the sample-format full scale.  8-bit (unsigned) and
    16-bit (signed LE) PCM are supported — the formats ``wave`` itself
    writes.  In the DECODED_SCHEMA the (width, height) slots carry
    (sample_rate, n_frames) for audio rows.
    """
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload)) as w:
        n_ch = w.getnchannels()
        sampwidth = w.getsampwidth()
        rate = w.getframerate()
        n_frames = w.getnframes()
        raw = w.readframes(n_frames)
    if sampwidth == 2:
        samples = np.frombuffer(raw, dtype="<i2").astype(np.float64)
        scale = 32768.0
    elif sampwidth == 1:
        samples = np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0
        scale = 128.0
    else:
        raise ValueError(f"unsupported PCM sample width {sampwidth}")
    if n_ch > 1:
        samples = samples.reshape(-1, n_ch).mean(axis=1)
    n = len(samples)
    feats = []
    for b in range(FEATURE_DIM):
        seg = samples[b * n // FEATURE_DIM : (b + 1) * n // FEATURE_DIM]
        feats.append(
            round(float(np.abs(seg).mean() / scale), 6) if len(seg) else 0.0
        )
    return rate, n_frames, feats


def is_ppm(payload: bytes) -> bool:
    """Binary PPM (P6) magic sniff."""
    return len(payload) > 2 and payload[:2] == b"P6" and payload[2:3].isspace()


def _parse_ppm_header(payload: bytes) -> tuple[int, int, int, int]:
    """P6 header → (width, height, maxval, pixel_offset).

    Tokens are whitespace-separated; ``#`` starts a comment running to
    end-of-line (the format's full grammar — no shortcuts, so any
    tool-written PPM parses).  Exactly ONE whitespace byte separates
    the maxval token from the raster.  Tokens must be plain ASCII
    digits (no sign) and both dimensions at least 1, so a header never
    yields an empty or negative raster.
    """
    i, tokens = 2, []
    n = len(payload)
    while len(tokens) < 3:
        while i < n and payload[i : i + 1].isspace():
            i += 1
        if i < n and payload[i : i + 1] == b"#":
            while i < n and payload[i] not in (10, 13):
                i += 1
            continue
        j = i
        while j < n and not payload[j : j + 1].isspace():
            j += 1
        if j == i:
            raise ValueError("truncated PPM header")
        if not payload[i:j].isdigit():
            raise ValueError(f"bad PPM header token {payload[i:j]!r}")
        tokens.append(int(payload[i:j]))
        i = j
    width, height, maxval = tokens
    if width < 1 or height < 1:
        raise ValueError(f"bad PPM dimensions {width}x{height}")
    if not (0 < maxval < 256):
        raise ValueError(f"unsupported PPM maxval {maxval}")
    return width, height, maxval, i + 1  # skip the single raster separator


def _grid_luma_features(rgb, maxval: int) -> list[float]:
    """Shared image feature kernel: (h, w, 3) int array → FEATURE_DIM
    grid-luminance features.  Mean Rec.601 luminance (0.299 R + 0.587 G
    + 0.114 B, computed in exact integer millis) of a 4×4 spatial grid
    in row-major order, normalized to [0, 1] by maxval — the image
    analogue of the WAV amplitude envelope.  Grid boundaries use the
    same integer box partition as the resizer, so degenerate boxes
    (image narrower than the grid) yield 0.0 like WAV's empty time
    bins.  PPM and PNG decode both land here, so features are
    container-independent (pinned in tests)."""
    height, width = rgb.shape[0], rgb.shape[1]
    # integer milli-luminance; one float division at the very end
    luma = 299 * rgb[:, :, 0] + 587 * rgb[:, :, 1] + 114 * rgb[:, :, 2]
    side = int(FEATURE_DIM**0.5)
    feats = []
    for gy in range(side):
        y0, y1 = gy * height // side, (gy + 1) * height // side
        for gx in range(side):
            x0, x1 = gx * width // side, (gx + 1) * width // side
            box = luma[y0:y1, x0:x1]
            if box.size == 0:
                feats.append(0.0)
            else:
                feats.append(
                    round(float(box.mean()) / (1000.0 * maxval), 6)
                )
    return feats


def decode_ppm_bytes(payload: bytes) -> tuple[int, int, list[float]]:
    """REAL pure-stdlib+numpy image decode: P6 PPM → (width, height,
    FEATURE_DIM grid-luminance features) via ``_grid_luma_features``.
    Pixels are read straight from the raster."""
    import numpy as np

    width, height, maxval, off = _parse_ppm_header(payload)
    n_px = width * height
    raster = np.frombuffer(payload, dtype=np.uint8, count=3 * n_px, offset=off)
    rgb = raster.reshape(height, width, 3).astype(np.int64)
    return width, height, _grid_luma_features(rgb, maxval)


def resize_ppm_bytes(payload: bytes, target_w: int, target_h: int) -> bytes:
    """REAL image resize: P6 in → P6 out at (target_w, target_h) via
    integer box-average resampling (area mean over the source box
    ``[y*h//th, (y+1)*h//th) × [x*w//tw, (x+1)*w//tw)`` per target
    pixel — the deterministic, alias-free downscale; for upscale the
    boxes degenerate to nearest-neighbor duplication)."""
    import numpy as np

    width, height, maxval, off = _parse_ppm_header(payload)
    raster = np.frombuffer(
        payload, dtype=np.uint8, count=3 * width * height, offset=off
    )
    rgb = raster.reshape(height, width, 3).astype(np.float64)
    ys = [(y * height // target_h, max((y + 1) * height // target_h, y * height // target_h + 1)) for y in range(target_h)]
    xs = [(x * width // target_w, max((x + 1) * width // target_w, x * width // target_w + 1)) for x in range(target_w)]
    out = np.empty((target_h, target_w, 3), dtype=np.uint8)
    for ty, (y0, y1) in enumerate(ys):
        rows = rgb[y0:y1]
        for tx, (x0, x1) in enumerate(xs):
            out[ty, tx] = np.floor(
                rows[:, x0:x1].mean(axis=(0, 1)) + 0.5
            ).astype(np.uint8)
    header = f"P6\n{target_w} {target_h}\n{maxval}\n".encode()
    return header + out.tobytes()


PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def is_png(payload: bytes) -> bool:
    """PNG signature sniff."""
    return payload[:8] == PNG_SIGNATURE


def _png_unfilter(raw: bytes, width: int, height: int, bpp: int):
    """Reverse PNG scanline filtering (spec §9: None/Sub/Up/Average/
    Paeth) → (height, width*bpp) uint8 array.

    None, Up, and Sub rows are numpy-vectorized (Sub is a per-channel
    prefix sum mod 256); Average and Paeth carry a genuine left-pixel
    recurrence, so they run a bounded per-row byte loop — per-image
    cost, amortized by the Arrow-batched kernel around it.
    """
    import numpy as np

    stride = width * bpp
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    out = np.zeros((height, stride), dtype=np.uint8)
    zero_row = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ft = int(rows[y, 0])
        cur = rows[y, 1:].astype(np.int64)
        above = out[y - 1].astype(np.int64) if y else zero_row.astype(np.int64)
        if ft == 0:
            out[y] = cur
        elif ft == 1:  # Sub: prefix sum per channel offset, mod 256
            px = cur.reshape(-1, bpp)
            out[y] = (px.cumsum(axis=0) & 0xFF).astype(np.uint8).reshape(-1)
        elif ft == 2:  # Up
            out[y] = ((cur + above) & 0xFF).astype(np.uint8)
        elif ft in (3, 4):  # Average / Paeth: left recurrence
            row = out[y]
            for x in range(stride):
                a = int(row[x - bpp]) if x >= bpp else 0
                b = int(above[x])
                if ft == 3:
                    row[x] = (int(cur[x]) + ((a + b) >> 1)) & 0xFF
                else:
                    c = int(out[y - 1, x - bpp]) if (y and x >= bpp) else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    if pa <= pb and pa <= pc:
                        pred = a
                    elif pb <= pc:
                        pred = b
                    else:
                        pred = c
                    row[x] = (int(cur[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ft}")
    return out


def png_to_rgb(payload: bytes):
    """REAL pure-stdlib PNG decode (VERDICT r10 item 3): signature +
    chunk walk, concatenated-IDAT zlib inflate, per-row unfiltering,
    color-type expansion → ((height, width, 3) uint8 RGB array).

    Supports 8-bit, non-interlaced PNG in color types 0 (gray), 2
    (RGB), 3 (palette via PLTE), 4 (gray+α) and 6 (RGBA).  Alpha is
    dropped (features need luminance, not compositing); gray
    replicates to RGB.  Other depths, Adam7 interlace, and a zero
    width or height reject loudly.  The inflate stops one byte past
    the raster IHDR declares, and any other raster length (truncated
    or padded) rejects, so a small file cannot inflate into an
    unbounded buffer.
    """
    import struct
    import zlib

    import numpy as np

    if not is_png(payload):
        raise ValueError("not a PNG payload")
    pos, n = 8, len(payload)
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    width, height, depth, color, comp, filt, interlace = ihdr
    if depth != 8:
        raise ValueError(f"unsupported PNG bit depth {depth} (8 only)")
    if interlace != 0:
        raise ValueError(f"unsupported PNG interlace method {interlace}")
    if comp != 0 or filt != 0:
        raise ValueError("nonstandard PNG compression/filter method")
    if width == 0 or height == 0:
        raise ValueError(f"bad PNG dimensions {width}x{height}")
    bpp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if bpp is None:
        raise ValueError(f"unsupported PNG color type {color}")
    expected = height * (width * bpp + 1)
    inflater = zlib.decompressobj()
    raw = inflater.decompress(idat, expected + 1)
    if len(raw) != expected or not inflater.eof:
        raise ValueError(
            f"PNG raster length mismatch: IHDR needs {expected} bytes"
        )
    px = _png_unfilter(raw, width, height, bpp).reshape(height, width, bpp)
    if color == 2:
        return px
    if color == 6:
        return px[:, :, :3].copy()
    if color == 0:
        return np.repeat(px, 3, axis=2)
    if color == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    if plte is None:
        raise ValueError("palette PNG missing PLTE")
    return plte[px[:, :, 0]]


def decode_png_bytes(payload: bytes) -> tuple[int, int, list[float]]:
    """PNG → (width, height, FEATURE_DIM grid-luminance features): the
    real decode feeding the SAME feature kernel as PPM, so a pixel grid
    produces identical features from either container (pinned in
    tests)."""
    rgb = png_to_rgb(payload)
    return (
        rgb.shape[1],
        rgb.shape[0],
        _grid_luma_features(rgb.astype("int64"), 255),
    )


def png_to_ppm(payload: bytes) -> bytes:
    """Container transcode: PNG in → equivalent P6 out, so PNG assets
    ride the existing REAL resize path (``resize_ppm_bytes``) and any
    other P6-consuming kernel without new per-format code."""
    rgb = png_to_rgb(payload)
    header = f"P6\n{rgb.shape[1]} {rgb.shape[0]}\n255\n".encode()
    return header + rgb.tobytes()


def _decode_any(payload: bytes):
    """Container-sniffing dispatch: real WAV / PPM / PNG decode when
    the payload IS one of those containers; anything else is
    QUARANTINED — ``(False, None, None, None)`` — rather than given
    fabricated features.  (Through r11 unrecognized payloads received
    deterministic sha256-derived stand-in features; that seam is
    retired — synthetic features never flow downstream.)

    The quarantine is TOTAL: a payload whose magic bytes sniff as a
    known container but whose body is corrupt (truncated stream, bad
    header, unsupported profile) also quarantines instead of raising —
    one dirty scraped asset must not abort the Spark stage.  The
    direct decoders (``decode_png_bytes`` & co.) keep raising loudly
    for callers who want the reason."""
    try:
        if is_wav(payload):
            return (True, *decode_wav_bytes(payload))
        if is_ppm(payload):
            return (True, *decode_ppm_bytes(payload))
        if is_png(payload):
            return (True, *decode_png_bytes(payload))
    except Exception:  # corrupt body behind a recognized magic
        pass
    return (False, None, None, None)


def decode_image_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (asset_id, modality, payload) → decoded meta +
    features.  One output row per input row; Arrow-batched.  Recognized
    containers (WAV/P6/PNG) take their REAL decode path; anything
    else comes back with ``decode_ok = false`` and NULL width/height/
    features — the quarantine contract (no fabricated features)."""
    for pdf in batches:
        decoded = [_decode_any(bytes(p)) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "asset_id": pdf["asset_id"].astype("int64"),
                "modality": pdf["modality"],
                "n_bytes": pdf["payload"].map(len).astype("int64"),
                "decode_ok": pd.Series(
                    [d[0] for d in decoded], dtype="bool"
                ),
                "width": pd.Series([d[1] for d in decoded], dtype="Int32"),
                "height": pd.Series([d[2] for d in decoded], dtype="Int32"),
                "features": [d[3] for d in decoded],
            }
        )


def decode_assets(assets: DataFrame) -> DataFrame:
    """Run the decode pipeline over a multimodal asset table.

    Input needs columns (asset_id long, modality string, payload binary).
    """
    return assets.select("asset_id", "modality", "payload").mapInPandas(
        decode_image_batch, schema=DECODED_SCHEMA
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("resize_ok", T.BooleanType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def make_resize_kernel(target_w: int, target_h: int):
    """mapInPandas kernel factory: payload → payload at (target_w,
    target_h).  PPM payloads take the REAL box-average resampler
    (``resize_ppm_bytes`` — a valid P6 comes back out); PNG payloads
    transcode to P6 once and ride the same resampler.
    Unrecognized containers come back QUARANTINED (``resize_ok =
    false``, NULL payload/width/height) — through r11 they received
    sha256-keyed stand-in bytes; that seam is retired.  The plumbing —
    binary-in/binary-out schema, closure over the target size, Arrow
    round-trip of bytes columns — is identical either way, which is
    exactly why a PIL `Image.resize` drops in per format.
    """

    def _one(p: bytes):
        try:
            if is_ppm(p):
                return resize_ppm_bytes(p, target_w, target_h)
            if is_png(p):
                # transcode once, then the REAL P6 resampler (output is
                # P6: re-encoding to PNG would spend zlib time for no
                # fidelity)
                return resize_ppm_bytes(png_to_ppm(p), target_w, target_h)
        except Exception:  # corrupt body behind a recognized magic
            pass
        return None

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = [_one(bytes(p)) for p in pdf["payload"]]
            ok = [r is not None for r in resized]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"].astype("int64"),
                    "modality": pdf["modality"],
                    "resize_ok": pd.Series(ok, dtype="bool"),
                    "width": pd.Series(
                        [target_w if o else None for o in ok], dtype="Int32"
                    ),
                    "height": pd.Series(
                        [target_h if o else None for o in ok], dtype="Int32"
                    ),
                    "payload": resized,
                }
            )

    return kernel


def resize_assets(assets: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Resize every image/video asset to a fixed resolution (1→1 rows)."""
    return assets.select("asset_id", "modality", "payload").mapInPandas(
        make_resize_kernel(target_w, target_h), schema=RESIZED_SCHEMA
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("demux_ok", T.BooleanType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ]
)

#: Nominal frame rate for the concatenated-P6 stream container: raw P6
#: carries no timing metadata, so frame timestamps are assigned at a
#: fixed 25 fps (40 ms/frame) — documented and deterministic.
_P6_STREAM_FPS = 25


def demux_ppm_stream(payload: bytes) -> list[bytes]:
    """REAL pure-stdlib video demux: a concatenated-P6 stream (back-to-
    back binary PPM images, a rawvideo container without a timing
    header) → one standalone, fully valid P6 payload per frame.  A
    single P6 image is a 1-frame stream.

    Each frame is sliced off by parsing ITS OWN header (frames may
    differ in size/maxval/comments — the demuxer never assumes a
    constant frame length), so every emitted frame feeds straight back
    into ``decode_ppm_bytes`` / ``resize_ppm_bytes``.  A truncated
    final frame raises rather than silently emitting garbage.
    """
    frames: list[bytes] = []
    off, n = 0, len(payload)
    while off < n:
        sub = payload[off:]
        if not is_ppm(sub):
            raise ValueError(
                f"byte {off}: expected a P6 frame header, got {sub[:2]!r}"
            )
        width, height, _maxval, pix = _parse_ppm_header(sub)
        end = pix + 3 * width * height
        if end > len(sub):
            raise ValueError(
                f"truncated P6 frame at byte {off}: need {end} bytes, "
                f"have {len(sub)}"
            )
        frames.append(bytes(sub[:end]))
        off += end
    return frames


def sample_frames_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: one VIDEO row → N frame rows (row-expanding).

    One real demux path: concatenated-P6 streams (``demux_ppm_stream``,
    nominal 25 fps) — every emitted frame is a standalone valid P6
    directly consumable by the real decode/resize kernels.  Any other
    container emits ONE quarantine row (``demux_ok = false``, NULL
    frame_idx/ts/frame) instead of the pre-r12 sha256 fake frames: bad
    assets stay visible downstream, synthetic frames never flow.  The
    1→N bookkeeping and bounded-memory batch discipline (frames for ONE
    batch of inputs in memory at a time) are identical on every path,
    which is exactly why a PyAV iterator drops in per format.
    """
    def _demux_one(raw: bytes):
        """[(frame_idx, ts_ms, p6_bytes), ...] for one asset, or None to
        quarantine — fully demuxed before anything is emitted, so a
        corrupt container can never leave partial frames behind."""
        try:
            if is_ppm(raw):
                return [
                    (i, i * 1000 // _P6_STREAM_FPS, f)
                    for i, f in enumerate(demux_ppm_stream(raw))
                ]
        except Exception:  # corrupt body behind a recognized magic
            pass
        return None

    for pdf in batches:
        ids, oks, idxs, tss, frames = [], [], [], [], []
        for aid, p in zip(pdf["asset_id"], pdf["payload"]):
            out = _demux_one(bytes(p))
            if out is None:
                ids.append(int(aid))
                oks.append(False)
                idxs.append(None)
                tss.append(None)
                frames.append(None)
                continue
            for i, ts, frame in out:
                ids.append(int(aid))
                oks.append(True)
                idxs.append(i)
                tss.append(ts)
                frames.append(frame)
        yield pd.DataFrame(
            {
                "asset_id": pd.Series(ids, dtype="int64"),
                "demux_ok": pd.Series(oks, dtype="bool"),
                "frame_idx": pd.Series(idxs, dtype="Int32"),
                "ts_ms": pd.Series(tss, dtype="Int64"),
                "frame": frames,
            }
        )


def sample_frames(assets: DataFrame) -> DataFrame:
    """Frame-sample the video assets (1→N row expansion per asset)."""
    return (
        assets.filter(F.col("modality") == "video")
        .select("asset_id", "payload")
        .mapInPandas(sample_frames_batch, schema=FRAME_SCHEMA)
    )


def documents_as_assets(documents: DataFrame) -> DataFrame:
    """Adapter used by tests/bench: treat document text bytes as opaque
    payloads so the decode plumbing runs on driver testdata."""
    modality = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return documents.select(
        F.col("doc_id").alias("asset_id"),
        modality.alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
