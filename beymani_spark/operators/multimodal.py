"""Multimodal (image/audio/video) column handling for training-data
pipelines (north-star surface).

Media are opaque ``binary`` payload columns with typed metadata. Every
media kernel runs in ONE batch frame, :func:`_media_map`: it spreads
few-split sources across the cluster, runs one Arrow-batched
``mapInPandas`` (payload bytes stream through in bounded batches, never
collected, never exploded into rows), turns payloads into bytes and owns
the id column and the empty batch. A kernel supplies only
``kernel(payloads, pdf) -> {column: values}``. The frame also owns the
NULL rule: a NULL payload yields one row with its id and NULL outputs
(for :func:`sample_frames`, ``explode_outer`` semantics), never a failed
query.

Around the frame each step exists once: one decode gate
(:func:`_check_decode` over the modality -> modes table, run when a
kernel is called, before planning), one resize (:func:`_nearest`), one
fake video frame (:func:`_fake_frame`) and one clip decode
(:func:`_clips`).

The codec layer is pluggable: ``decode='real'`` uses Pillow when it is
importable (image decode + grayscale + resize; proven by the
skip-if-missing test tests/test_real_codec.py) and raises
NotImplementedError in the worker otherwise. The engine depends on no
codec library, so its baseline contract is ``decode='fake'``, a
deterministic pseudo-decode derived from the payload bytes (stable across
runs/partitions) that keeps the Spark-side plumbing — schema, batch shape,
partitioning, downstream joins — fully real, testable, and
oracle-verifiable. ``decode='ppm'`` decodes ACTUAL image bytes (binary
netpbm P5/P6) in pure numpy — header parse, BT.601 luma, nearest resize
— so the real-decode path executes end-to-end even here, with no
library (tests/test_real_codec.py); ``decode='wav'`` (RIFF/WAVE PCM16
audio) and ``decode='avi'`` (uncompressed RIFF-AVI video frames) do the
same for the other two modalities on the shared RIFF chunk machinery.
``decode='png'`` decodes MAINSTREAM image bytes — real PNG — with only
stdlib zlib + numpy (chunk walk, inflate, all five scanline unfilters,
palette/alpha color types; ``png_encode`` is the matching fixture
encoder), and ``decode='jpg'`` decodes baseline JPEG (canonical-huffman
entropy decode, dequantize, 8x8 IDCT; ``jpg_encode`` is the matching
encoder) — the deflate-lossless + huffman-DCT-lossy mainstream pair,
both with no codec library; Pillow stays the fast swap-in. Audio and
video ``decode='real'`` would need an audio codec library or an ffmpeg
binding (PyAV); they raise NotImplementedError when the kernel is
called.

At 100 TB: payloads dominate storage; these operators preserve columnar
pruning (metadata-only queries never touch payload bytes because parquet
reads only requested columns) and all feature outputs are small fixed-width
arrays suitable for the similarity operators.
"""
from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator, Sequence
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .banding import banded_pairs

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<format: string, width: int, height: int, duration_ms: int>"
)


def _fake_pixels_base(base: "hashlib._Hash", width: int, height: int) -> np.ndarray:
    """Counter-mode expansion from a pre-seeded sha256 state: fork the
    state per counter block instead of re-hashing the prefix. Bit-identical
    to hashing ``prefix + str(j)`` from scratch (sha256 is a pure running
    state over the byte stream), but the shared prefix is absorbed ONCE —
    the kernels below call this per (item, frame) with KB-sized payload
    prefixes, where re-absorbing the payload per 32-byte block was the
    dominant cost (measured 2.2x on 1 KB payloads)."""
    n = width * height
    blocks = (n + 31) // 32
    parts = []
    for j in range(blocks):
        h = base.copy()
        h.update(str(j).encode())
        parts.append(h.digest())
    digest = b"".join(parts)
    return np.frombuffer(digest[:n], dtype=np.uint8).reshape(height, width)


def _fake_pixels(payload: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic pseudo-decode: SHA-256 counter-mode expansion of the
    payload. Platform/library-independent (no PRNG involved), so external
    oracles (e.g. the DuckDB sha256() in the media_features correctness
    query) can reproduce the 'decoded' bytes exactly."""
    return _fake_pixels_base(hashlib.sha256(payload), width, height)


def _fake_frame(base: "hashlib._Hash", offset_ms: int, width: int, height: int) -> np.ndarray:
    """Fake video frame at ``offset_ms``: the pseudo-decode of
    ``payload + b":" + str(offset_ms)``, where ``base`` is
    ``sha256(payload + b":")``, absorbed once per item and forked per
    frame (bit-identical digests, see _fake_pixels_base). The ASCII offset
    suffix keeps every frame reproducible by external oracles."""
    fb = base.copy()
    fb.update(str(int(offset_ms)).encode())
    return _fake_pixels_base(fb, width, height)


def _nearest(px: np.ndarray, width: int, height: int) -> np.ndarray:
    """The family's one resize: nearest-neighbor over linspace indices on
    the last two axes (a raster or a batch of them), deterministic
    everywhere."""
    if px.shape[-2:] == (height, width):
        return px
    ys = np.linspace(0, px.shape[-2] - 1, height).astype(int)
    xs = np.linspace(0, px.shape[-1] - 1, width).astype(int)
    return px[..., ys[:, None], xs]


def _real_pixels(payload: bytes, width: int, height: int) -> np.ndarray:
    """Real codec path: Pillow decode -> grayscale -> resize. Guarded at
    call time so environments without codec libraries fail with a clear
    NotImplementedError instead of an import crash."""
    try:
        from PIL import Image
    except ImportError as e:  # pragma: no cover - exercised only sans PIL
        raise NotImplementedError(
            "decode='real' requires Pillow (PIL), not present in this "
            "environment; use decode='png' or decode='jpg' (in-sandbox "
            "stdlib codecs), decode='ppm', or decode='fake'"
        ) from e
    import io

    img = Image.open(io.BytesIO(payload)).convert("L")
    if img.size != (width, height):
        img = img.resize((width, height), Image.BILINEAR)
    return np.asarray(img, dtype=np.uint8)


def _ppm_pixels(payload: bytes, width: int, height: int) -> np.ndarray:
    """REAL bytes-to-pixels decode with no external library: binary netpbm
    images — PGM ``P5`` (grayscale) and PPM ``P6`` (RGB), maxval <= 255 —
    parsed and rasterized in pure numpy. This is the in-sandbox execution
    proof for the real-codec plumbing: the container has no Pillow/PyAV,
    so ``decode='real'`` stays a guarded swap-in, but ``decode='ppm'``
    runs an actual image format end-to-end through the same batch path.

    RGB collapses to luma with integer BT.601 ((299R+587G+114B+500)//1000
    — exact integer arithmetic, deterministic everywhere); resize to the
    requested grid is the family's one nearest-neighbor rule,
    :func:`_nearest`."""
    # header: magic, then whitespace-separated width/height/maxval with
    # '#' comments running to end-of-line; ONE whitespace byte then raster
    if not payload.startswith((b"P5", b"P6")):
        raise ValueError("ppm decode supports binary netpbm P5/P6 payloads")
    rgb = payload.startswith(b"P6")
    fields: list[int] = []
    i = 2
    while len(fields) < 3:
        if i >= len(payload):
            raise ValueError("truncated netpbm header")
        c = payload[i : i + 1]
        if c == b"#":
            i = payload.index(b"\n", i) + 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            fields.append(int(payload[i:j]))
            i = j
    w0, h0, maxval = fields
    if maxval > 255:
        raise ValueError("netpbm maxval > 255 (2-byte samples) not supported")
    i += 1  # the single whitespace byte after maxval
    n = w0 * h0 * (3 if rgb else 1)
    raster = np.frombuffer(payload, dtype=np.uint8, count=n, offset=i)
    if maxval != 255:
        # netpbm samples are fractions of maxval: rescale to the 0..255
        # intensity scale (round-half-up integer arithmetic) so e.g. a
        # maxval=15 image keeps its true brightness instead of decoding
        # near-black
        raster = (
            (raster.astype(np.int64) * 255 + maxval // 2) // maxval
        ).astype(np.uint8)
    if rgb:
        px = raster.reshape(h0, w0, 3).astype(np.int64)
        gray = (299 * px[..., 0] + 587 * px[..., 1] + 114 * px[..., 2] + 500) // 1000
        gray = gray.astype(np.uint8)
    else:
        gray = raster.reshape(h0, w0)
    return _nearest(gray, width, height)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: bytes-per-pixel by PNG color type (bit depth 8)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_pixels(payload: bytes, width: int, height: int) -> np.ndarray:
    """REAL PNG decode with no external library: stdlib ``zlib`` inflate +
    numpy per-row unfilter — the mainstream-image-format member of the
    in-sandbox codec family (netpbm `_ppm_pixels`, WAV `_wav_samples`,
    AVI `_avi_frames`). Pillow remains the fast swap-in via
    ``decode='real'``; this path removes the "no mainstream image codec
    ever executed" gap genuinely in-sandbox.

    Supported: bit depth 8, color types 0 (gray), 2 (RGB), 3 (palette),
    4 (gray+alpha), 6 (RGBA), non-interlaced — the overwhelming majority
    of real-world PNGs. 16-bit and Adam7 interlace raise with a clear
    message (use ``decode='real'``). All five scanline filters (None /
    Sub / Up / Average / Paeth) are implemented; Sub is a vectorized
    per-channel cumulative sum mod 256, Up is whole-row vectorized, and
    only Average/Paeth (true byte-serial dependency chains) fall back to
    a per-byte loop. Color collapses to integer BT.601 luma (alpha
    ignored — features describe the raster, not compositing) and the
    resize to the requested grid is the family's shared deterministic
    nearest-neighbor rule."""
    import zlib

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("png decode supports PNG payloads (bad signature)")
    pos, ihdr, plte, idat = len(_PNG_SIG), None, None, []
    while pos + 8 <= len(payload):
        size = int.from_bytes(payload[pos : pos + 4], "big")
        cid = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"IHDR":
            ihdr = body
        elif cid == b"PLTE":
            plte = body
        elif cid == b"IDAT":
            idat.append(body)
        elif cid == b"IEND":
            break
        pos += 12 + size  # length + type + crc
    if ihdr is None or len(ihdr) < 13 or not idat:
        raise ValueError("truncated png: missing IHDR or IDAT")
    w0 = int.from_bytes(ihdr[0:4], "big")
    h0 = int.from_bytes(ihdr[4:8], "big")
    depth, color, comp, filt, interlace = ihdr[8:13]
    if depth != 8:
        raise ValueError("png decode supports bit depth 8 (use decode='real')")
    if interlace:
        raise ValueError("png decode supports non-interlaced only (use decode='real')")
    channels = _PNG_CHANNELS.get(color)
    if channels is None or comp != 0 or filt != 0:
        raise ValueError(f"png: unsupported color/compression ({color}/{comp}/{filt})")
    if w0 <= 0 or h0 <= 0:
        raise ValueError("png: bad dimensions")
    raw = zlib.decompress(b"".join(idat))
    stride = w0 * channels
    if len(raw) < (stride + 1) * h0:
        raise ValueError("png: short raster")

    out = np.empty((h0, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    bpp = channels
    for y in range(h0):
        ft = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int64)
        if ft == 0:  # None
            cur = line
        elif ft == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ft == 1:  # Sub: per-channel cumulative sum mod 256
            cur = np.cumsum(line.reshape(w0, bpp), axis=0, dtype=np.int64)
            cur = (cur & 0xFF).reshape(stride)
        elif ft in (3, 4):  # Average / Paeth: byte-serial
            cur = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                if ft == 3:
                    pred = (a + b) // 2
                else:
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"png: unknown scanline filter {ft}")
        out[y] = cur.astype(np.uint8)
        prev = cur

    px = out.reshape(h0, w0, channels).astype(np.int64)
    if color == 3:
        if plte is None:
            raise ValueError("png: palette image without PLTE chunk")
        pal = np.frombuffer(plte, dtype=np.uint8)
        pal = pal[: (len(pal) // 3) * 3].reshape(-1, 3).astype(np.int64)
        rgb = pal[px[..., 0]]
        gray = (299 * rgb[..., 0] + 587 * rgb[..., 1] + 114 * rgb[..., 2] + 500) // 1000
    elif color in (2, 6):
        gray = (299 * px[..., 0] + 587 * px[..., 1] + 114 * px[..., 2] + 500) // 1000
    else:  # 0 grayscale, 4 gray+alpha: first channel is the luma
        gray = px[..., 0]
    return _nearest(gray.astype(np.uint8), width, height)


def png_encode(
    pixels: np.ndarray, color: int = 0, filters: Sequence[int] | int = 0
) -> bytes:
    """Minimal stdlib PNG ENCODER (fixture/ingest utility, and the
    synthesizer behind the media_features_png correctness query): emits a
    spec-valid bit-depth-8 PNG — signature, IHDR, one IDAT, IEND, CRC-32
    per chunk — for color types 0 (gray, pixels (h, w)),
    2 (RGB, pixels (h, w, 3)) and 6 (RGBA, pixels (h, w, 4)). ``filters``
    applies the given scanline filter type per row (int = same type every
    row), computing the spec's residuals so the decoder's unfilter paths
    are exercised on real filtered data. The zlib stream uses level-0
    stored blocks, which keeps the payload a pure deterministic function
    of the pixels — the property the DuckDB oracle relies on."""
    import zlib

    if color not in (0, 2, 6):
        # palette (3) would need a PLTE chunk this encoder never writes —
        # reject here instead of emitting a spec-invalid file that only
        # fails later at decode time
        raise ValueError(f"png_encode supports color types 0/2/6, not {color}")
    px = np.asarray(pixels, dtype=np.int64)
    if color == 0:
        px = px.reshape(px.shape[0], px.shape[1], 1)
    h0, w0, channels = px.shape
    if _PNG_CHANNELS.get(color) != channels:
        raise ValueError(f"pixels shape {px.shape} does not match color type {color}")
    flat = px.reshape(h0, w0 * channels)
    ftypes = [filters] * h0 if isinstance(filters, int) else list(filters)
    if len(ftypes) != h0:
        raise ValueError("one filter type per row required")
    bpp = channels
    raw = bytearray()
    prev = np.zeros(w0 * channels, dtype=np.int64)
    for y in range(h0):
        cur, ft = flat[y], ftypes[y]
        left = np.concatenate([np.zeros(bpp, dtype=np.int64), cur[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, dtype=np.int64), prev[:-bpp]])
        if ft == 0:
            res = cur
        elif ft == 1:
            res = cur - left
        elif ft == 2:
            res = cur - prev
        elif ft == 3:
            res = cur - (left + prev) // 2
        elif ft == 4:
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            res = cur - pred
        else:
            raise ValueError(f"png: unknown scanline filter {ft}")
        raw.append(ft)
        raw.extend((res & 0xFF).astype(np.uint8).tobytes())
        prev = cur

    def chunk(cid: bytes, body: bytes) -> bytes:
        return (
            len(body).to_bytes(4, "big")
            + cid
            + body
            + zlib.crc32(cid + body).to_bytes(4, "big")
        )

    ihdr = (
        w0.to_bytes(4, "big")
        + h0.to_bytes(4, "big")
        + bytes([8, color, 0, 0, 0])
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 0))
        + chunk(b"IEND", b"")
    )


def _wav_samples(payload: bytes) -> np.ndarray:
    """REAL audio decode with no external library: RIFF/WAVE PCM
    16-bit-signed payloads parsed in pure numpy — the audio analogue of
    `_ppm_pixels`. Walks the chunk list (fmt / data may be preceded by
    LIST/fact chunks), requires format tag 1 (integer PCM) at 16 bits,
    and averages channels to mono with exact integer arithmetic
    (sum // n_channels, matching the truncation a fixed-point downmix
    does). Returns int16-range values as an int32 array."""
    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("wav decode supports RIFF/WAVE payloads")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("truncated wav: missing fmt or data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits != 16:
        raise ValueError("wav decode supports 16-bit integer PCM (format 1)")
    if n_channels < 1:
        raise ValueError("wav: zero channels")
    x = np.frombuffer(
        data, dtype="<i2", count=(len(data) // (2 * n_channels)) * n_channels
    ).astype(np.int32)
    if n_channels > 1:
        x = x.reshape(-1, n_channels).sum(axis=1) // n_channels
    if len(x) == 0:
        raise ValueError("wav: empty data chunk")
    return x


def _avi_frames(payload: bytes) -> tuple[np.ndarray, int]:
    """REAL video decode with no external library: uncompressed RIFF-AVI
    payloads (BI_RGB DIB frames, 24-bit BGR or 8-bit grayscale) parsed in
    pure numpy — the video analogue of ``_wav_samples`` / ``_ppm_pixels``,
    built on the same RIFF chunk discipline (word-aligned [fourcc, size,
    body] records; LIST chunks recurse). Returns (frames, usec_per_frame)
    where frames is an (n_frames, height, width) uint8 luma array in
    top-down row order.

    Container facts used: ``avih`` carries dwMicroSecPerFrame;
    ``strh``/``strf`` of the first ``vids`` stream carry the
    BITMAPINFOHEADER (width, signed height, bit depth, compression);
    ``##db``/``##dc`` chunks under ``movi`` are the frames. DIB rasters
    are bottom-up when biHeight > 0 (flipped here), rows padded to 4-byte
    stride, 24-bit samples in BGR order (BT.601 integer luma, same
    arithmetic as the netpbm path)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("avi decode supports RIFF/AVI payloads")
    state = {"usec": None, "w": None, "h": None, "bits": None, "comp": None,
             "strh_type": None}
    frames_raw: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        while pos + 8 <= end:
            cid = payload[pos : pos + 4]
            size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
            body = pos + 8
            if cid == b"LIST":
                walk(body + 4, body + size)  # first 4 bytes = list type
            elif cid == b"avih":
                state["usec"] = int.from_bytes(payload[body : body + 4], "little")
            elif cid == b"strh":
                state["strh_type"] = payload[body : body + 4]
            elif cid == b"strf" and state["strh_type"] == b"vids" and state["w"] is None:
                b = payload[body : body + size]
                if len(b) < 20:
                    raise ValueError("truncated avi: short BITMAPINFOHEADER")
                state["w"] = int.from_bytes(b[4:8], "little", signed=True)
                state["h"] = int.from_bytes(b[8:12], "little", signed=True)
                state["bits"] = int.from_bytes(b[14:16], "little")
                state["comp"] = int.from_bytes(b[16:20], "little")
            elif cid[2:4] in (b"db", b"dc"):
                frames_raw.append(payload[body : body + size])
            pos = body + size + (size & 1)  # chunks are word-aligned

    walk(12, len(payload))
    w, h_signed, bits = state["w"], state["h"], state["bits"]
    if w is None or not frames_raw or not state["usec"]:
        raise ValueError("truncated avi: missing header, frames, or frame rate")
    if state["comp"] != 0 or bits not in (8, 24):
        raise ValueError("avi decode supports uncompressed BI_RGB 8/24-bit frames")
    h = abs(h_signed)
    if w <= 0 or h == 0:
        raise ValueError("avi: bad frame dimensions")
    stride = ((w * (bits // 8) + 3) // 4) * 4
    out = np.empty((len(frames_raw), h, w), dtype=np.uint8)
    for i, fb in enumerate(frames_raw):
        if len(fb) < stride * h:
            raise ValueError("avi: short frame chunk")
        arr = np.frombuffer(fb, dtype=np.uint8, count=stride * h).reshape(h, stride)
        if bits == 24:
            px = arr[:, : w * 3].reshape(h, w, 3).astype(np.int64)
            gray = (299 * px[..., 2] + 587 * px[..., 1] + 114 * px[..., 0] + 500) // 1000
        else:
            gray = arr[:, :w].astype(np.int64)
        if h_signed > 0:  # bottom-up raster -> top-down frames
            gray = gray[::-1]
        out[i] = gray.astype(np.uint8)
    return out, int(state["usec"])


# --------------------------------------------------------------------- JPEG

#: standard luminance quantization table (JPEG Annex K.1, row-major)
_JPG_QTABLE = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)

#: standard DC/AC luminance huffman specs (Annex K.3): (bits[1..16], values)
_JPG_DC_SPEC = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPG_AC_SPEC = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

#: zigzag order: _JPG_ZIGZAG[k] = (row, col) of the k-th coefficient
_JPG_ZIGZAG = sorted(
    ((r, c) for r in range(8) for c in range(8)),
    key=lambda rc: (rc[0] + rc[1], rc[1] if (rc[0] + rc[1]) % 2 else rc[0]),
)


@lru_cache(maxsize=2)
def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal n-point DCT-II basis, shared by the JPEG codec (n=8)
    and pHash (n=32): row k = sqrt(2/n)*cos(pi*(2m+1)k/(2n)), row 0
    scaled by 1/sqrt(2). Cached — the basis is a pure constant and this
    runs inside the per-batch hot kernels; callers must not mutate it."""
    k = np.arange(n)[:, None].astype(np.float64)
    m = np.arange(n)[None, :].astype(np.float64)
    mat = np.cos(np.pi * (2 * m + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    mat[0] /= np.sqrt(2.0)
    return mat


def _jpg_canonical_codes(bits: Sequence[int], values: Sequence[int]):
    """JPEG canonical huffman assignment: (code, length) per symbol."""
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def jpg_encode(pixels: np.ndarray, qtable: np.ndarray | None = None) -> bytes:
    """Minimal baseline-JPEG ENCODER for grayscale rasters (fixture/ingest
    utility, the lossy companion of png_encode): level shift, 8x8
    orthonormal DCT, quantization (Annex K.1 luminance table by default —
    pass np.ones((8,8)) for near-lossless), zigzag, DPCM DC + RLE AC,
    standard Annex K huffman tables, byte-stuffed entropy stream inside
    SOI/DQT/SOF0/DHT/SOS/EOI. Single component, no subsampling. Output is
    a spec-valid baseline JFIF stream any decoder accepts."""
    q = _JPG_QTABLE if qtable is None else np.asarray(qtable, dtype=np.int64)
    px = np.asarray(pixels, dtype=np.int64)
    h0, w0 = px.shape
    hp, wp = ((h0 + 7) // 8) * 8, ((w0 + 7) // 8) * 8
    padded = np.pad(px, ((0, hp - h0), (0, wp - w0)), mode="edge")
    d = _dct_matrix(8)
    dc_codes = _jpg_canonical_codes(*_JPG_DC_SPEC)
    ac_codes = _jpg_canonical_codes(*_JPG_AC_SPEC)
    zz_r = np.array([rc[0] for rc in _JPG_ZIGZAG])
    zz_c = np.array([rc[1] for rc in _JPG_ZIGZAG])

    # batch the DCT: (n_blocks, 8, 8) einsum once, python loops only for
    # the entropy coder (the per-symbol part that is inherently serial).
    # Stays an einsum: d @ blocks @ d.T moved np.rint ties in 324 of 5000
    # sf0.1 encodings, and so the media_features_jpg result
    nby, nbx = hp // 8, wp // 8
    blocks = (
        padded.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3).astype(np.float64)
        - 128.0
    )
    coefs = np.einsum("ij,bjk,lk->bil", d, blocks.reshape(-1, 8, 8), d)
    quants = np.rint(coefs / q).astype(np.int64)
    zz_all = quants[:, zz_r, zz_c]

    # vectorized magnitude coding (spec F.1.2.1) for every coefficient at
    # once: size = bit_length(|v|) via a power-of-two searchsorted (exact
    # integer compares), amp = v + 2^size - 1 for negatives — the former
    # per-coefficient _jpg_magnitude call was a measured encoder hot spot,
    # as was the per-block generator scan for the last nonzero index
    pow2 = np.left_shift(np.int64(1), np.arange(31, dtype=np.int64))
    mags = np.abs(zz_all)
    sizes_all = np.searchsorted(pow2, mags, side="right").astype(np.int64)
    amps_all = np.where(
        zz_all >= 0, zz_all, zz_all + np.left_shift(np.int64(1), sizes_all) - 1
    )
    dc = zz_all[:, 0]
    ddc = np.empty_like(dc)
    ddc[0] = dc[0]
    ddc[1:] = dc[1:] - dc[:-1]
    dsz = np.searchsorted(pow2, np.abs(ddc), side="right").astype(np.int64)
    damp = np.where(ddc >= 0, ddc, ddc + np.left_shift(np.int64(1), dsz) - 1)
    acnz = zz_all[:, 1:] != 0
    last_nz_all = np.where(
        acnz.any(axis=1), 63 - np.argmax(acnz[:, ::-1], axis=1), 0
    )

    # symbol tables as flat lists; bit accumulation inlined (the former
    # per-symbol _BitWriter.write method call dominated the encoder)
    dc_tab = [dc_codes.get(s, (0, 0)) for s in range(17)]
    ac_tab = [ac_codes.get(s, (0, 0)) for s in range(256)]
    zrl_c, zrl_l = ac_codes[0xF0]
    eob_c, eob_l = ac_codes[0x00]
    sizes_l = sizes_all.tolist()
    amps_l = amps_all.tolist()
    dsz_l = dsz.tolist()
    damp_l = damp.tolist()
    last_l = last_nz_all.tolist()
    out = bytearray()
    append = out.append
    acc = 0
    nbits = 0
    for bi in range(nby * nbx):
        size = dsz_l[bi]
        code, length = dc_tab[size]
        acc = (acc << (length + size)) | (code << size) | damp_l[bi]
        nbits += length + size
        row_sz = sizes_l[bi]
        row_amp = amps_l[bi]
        run = 0
        for k in range(1, last_l[bi] + 1):
            s = row_sz[k]
            if s == 0:
                run += 1
                continue
            while run > 15:
                acc = (acc << zrl_l) | zrl_c
                nbits += zrl_l
                run -= 16
            code, length = ac_tab[(run << 4) | s]
            acc = (acc << (length + s)) | (code << s) | row_amp[k]
            nbits += length + s
            run = 0
            if nbits >= 512:
                while nbits >= 8:
                    nbits -= 8
                    byte = (acc >> nbits) & 0xFF
                    append(byte)
                    if byte == 0xFF:  # byte stuffing
                        append(0x00)
                acc &= (1 << nbits) - 1
        if last_l[bi] < 63:
            acc = (acc << eob_l) | eob_c
            nbits += eob_l
        while nbits >= 8:
            nbits -= 8
            byte = (acc >> nbits) & 0xFF
            append(byte)
            if byte == 0xFF:  # byte stuffing
                append(0x00)
        acc &= (1 << nbits) - 1
    if nbits:
        pad = 8 - nbits
        byte = ((acc << pad) | ((1 << pad) - 1)) & 0xFF  # 1-fill per spec
        append(byte)
        if byte == 0xFF:
            append(0x00)
    scan = bytes(out)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    zz_q = q[zz_r, zz_c]
    dqt = seg(0xDB, bytes([0x00]) + bytes(int(v) for v in zz_q))
    sof0 = seg(
        0xC0,
        bytes([8])
        + h0.to_bytes(2, "big")
        + w0.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0]),
    )
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(_JPG_DC_SPEC[0]) + bytes(_JPG_DC_SPEC[1])
        + bytes([0x10]) + bytes(_JPG_AC_SPEC[0]) + bytes(_JPG_AC_SPEC[1]),
    )
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return b"\xff\xd8" + dqt + sof0 + dht + sos + scan + b"\xff\xd9"


@lru_cache(maxsize=16)
def _jpg_huff_flat(bits: tuple, values: tuple):
    """Flat peek-16 huffman lookup: (symbol, code_length) python lists of
    2^16 entries, one slice-fill per canonical code — every 16-bit window
    whose prefix is code C maps to C's symbol. Replaces the former
    bit-at-a-time tree walk (one dict probe PER BIT of every symbol, the
    measured hot 55% of the jpg kernel) with one table probe per symbol.
    length 0 marks invalid prefixes (same 'invalid huffman code' error).
    Cached per canonical table — every Annex-K stream shares two."""
    sym = [0] * 65536
    ln = [0] * 65536
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            start = code << (16 - length)
            stop = start + (1 << (16 - length))
            sym[start:stop] = [values[k]] * (stop - start)
            ln[start:stop] = [length] * (stop - start)
            code += 1
            k += 1
        code <<= 1
    return sym, ln


def _jpg_unstuff(scan: bytes) -> tuple[bytes, bool]:
    """One vectorized pass over the entropy stream: drop the 0x00 after
    each stuffed 0xFF, cut at the first real marker (0xFF + non-zero).
    Returns (clean bytes, hit_marker) — hit_marker distinguishes the two
    exhaustion errors the former per-byte reader raised."""
    arr = np.frombuffer(scan, dtype=np.uint8)
    end = len(arr)
    hit_marker = False
    drops = []
    for f in np.flatnonzero(arr == 0xFF):
        if f >= end:
            break
        if f + 1 >= len(arr) or arr[f + 1] != 0x00:
            end = f
            hit_marker = True
            break
        drops.append(f + 1)
    keep = arr[:end]
    if drops:
        keep = np.delete(keep, [d for d in drops if d < end])
    return keep.tobytes(), hit_marker


def _jpg_pixels(payload: bytes, width: int, height: int) -> np.ndarray:
    """REAL baseline-JPEG decode with no external library: marker walk,
    canonical-huffman entropy decode (DC DPCM + AC run/size RLE, byte
    unstuffing), dequantize, dezigzag, orthonormal 8x8 IDCT in numpy —
    the lossy-compressed companion of ``_png_pixels``, completing the
    mainstream-image pair (deflate-lossless + huffman-DCT-lossy) the
    in-sandbox codec family executes end-to-end.

    Supported: baseline sequential DCT (SOF0), 8-bit, grayscale or
    interleaved multi-component with NO chroma subsampling (all sampling
    factors 1x1) — luma is component 1's plane (JPEG's Y channel IS the
    BT.601 luma, so no color convert is needed for the feature path).
    Progressive (SOF2), 12-bit, subsampled, arithmetic-coded and
    restart-marker streams raise clearly (use ``decode='real'``/Pillow).
    Resize to the requested grid is the family's shared deterministic
    nearest-neighbor rule."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("jpg decode supports JPEG payloads (bad SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    frame = None  # (h0, w0, [(comp_id, qid)]) after SOF0
    comp_tables: list[tuple[int, int]] = []  # (dc_id, ac_id) per component
    scan_data = None
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("jpg: marker expected")
        # spec-legal 0xFF fill bytes may pad before any marker code
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(payload):
            raise ValueError("jpg: truncated marker")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM / RSTn are standalone — no 2-byte length follows
            pos += 2
            continue
        if pos + 4 > len(payload):
            raise ValueError("jpg: truncated segment header")
        size = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        body = payload[pos + 4 : pos + 2 + size]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            b = body
            while b:
                prec, tid = b[0] >> 4, b[0] & 0x0F
                if prec != 0:
                    raise ValueError("jpg: 16-bit quant tables not supported")
                q = np.zeros((8, 8), dtype=np.int64)
                for k, (r, c) in enumerate(_JPG_ZIGZAG):
                    q[r, c] = b[1 + k]
                qtables[tid] = q
                b = b[65:]
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError(
                "jpg decode supports baseline sequential (SOF0) only — "
                "progressive/extended streams need decode='real' (Pillow)"
            )
        elif marker == 0xC0:  # SOF0
            if body[0] != 8:
                raise ValueError("jpg: only 8-bit precision supported")
            h0 = int.from_bytes(body[1:3], "big")
            w0 = int.from_bytes(body[3:5], "big")
            ncomp = body[5]
            comps = []
            for c in range(ncomp):
                cid, samp, qid = body[6 + 3 * c : 9 + 3 * c]
                if samp != 0x11:
                    raise ValueError(
                        "jpg: chroma subsampling not supported (1x1 only) — "
                        "use decode='real'"
                    )
                comps.append((cid, qid))
            frame = (h0, w0, comps)
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            b = body
            while b:
                tclass, tid = b[0] >> 4, b[0] & 0x0F
                bits = list(b[1:17])
                nvals = sum(bits)
                values = list(b[17 : 17 + nvals])
                htables[(tclass, tid)] = (tuple(bits), tuple(values))
                b = b[17 + nvals :]
        elif marker == 0xDD:
            raise ValueError("jpg: restart intervals not supported")
        elif marker == 0xDA:  # SOS
            ns = body[0]
            comp_tables = []
            for c in range(ns):
                tsel = body[2 + 2 * c]
                comp_tables.append((tsel >> 4, tsel & 0x0F))
            scan_data = payload[pos + 2 + size :]
            break
        pos += 2 + size
    if frame is None or scan_data is None:
        raise ValueError("truncated jpg: missing SOF0 or SOS")
    h0, w0, comps = frame
    if h0 == 0 or w0 == 0:
        raise ValueError("jpg: bad dimensions")
    bh, bw_ = (h0 + 7) // 8, (w0 + 7) // 8
    d = _dct_matrix(8)
    zz_r = np.array([rc[0] for rc in _JPG_ZIGZAG])
    zz_c = np.array([rc[1] for rc in _JPG_ZIGZAG])
    # flat peek-16 symbol tables per component, hoisted out of the block
    # loop (they were probed from the htables dict once per block)
    flats = []
    for ci in range(len(comps)):
        dc_raw = htables.get((0, comp_tables[ci][0]))
        ac_raw = htables.get((1, comp_tables[ci][1]))
        if dc_raw is None or ac_raw is None:
            raise ValueError("jpg: missing huffman table")
        flats.append((_jpg_huff_flat(*dc_raw), _jpg_huff_flat(*ac_raw)))
    data, hit_marker = _jpg_unstuff(scan_data)
    dlen = len(data)
    exhausted = (
        "jpg: unexpected marker inside entropy data"
        if hit_marker
        else "jpg: entropy stream exhausted"
    )
    pos = 0
    acc = 0
    nbits = 0
    luma_zz: list[list[int]] = []  # one 64-coef zigzag vector per luma block
    prev_dc = [0] * len(comps)
    for _by in range(bh):
        for _bx in range(bw_):
            for ci in range(len(comps)):
                (dc_sym, dc_len), (ac_sym, ac_len) = flats[ci]
                zz = [0] * 64
                # DC: peek 16 (zero-padded at stream end), one table probe
                while nbits < 16 and pos < dlen:
                    acc = (acc << 8) | data[pos]
                    pos += 1
                    nbits += 8
                peek = (
                    (acc >> (nbits - 16)) & 0xFFFF
                    if nbits >= 16
                    else (acc << (16 - nbits)) & 0xFFFF
                )
                length = dc_len[peek]
                if length == 0:
                    raise ValueError("jpg: invalid huffman code")
                if length > nbits:
                    raise ValueError(exhausted)
                size = dc_sym[peek]
                nbits -= length
                acc &= (1 << nbits) - 1
                if size:
                    while nbits < size:
                        if pos >= dlen:
                            raise ValueError(exhausted)
                        acc = (acc << 8) | data[pos]
                        pos += 1
                        nbits += 8
                    nbits -= size
                    amp = (acc >> nbits) & ((1 << size) - 1)
                    acc &= (1 << nbits) - 1
                    prev_dc[ci] += (
                        amp if amp >= (1 << (size - 1)) else amp - (1 << size) + 1
                    )
                zz[0] = prev_dc[ci]
                k = 1
                while k < 64:
                    while nbits < 16 and pos < dlen:
                        acc = (acc << 8) | data[pos]
                        pos += 1
                        nbits += 8
                    peek = (
                        (acc >> (nbits - 16)) & 0xFFFF
                        if nbits >= 16
                        else (acc << (16 - nbits)) & 0xFFFF
                    )
                    length = ac_len[peek]
                    if length == 0:
                        raise ValueError("jpg: invalid huffman code")
                    if length > nbits:
                        raise ValueError(exhausted)
                    rs = ac_sym[peek]
                    nbits -= length
                    acc &= (1 << nbits) - 1
                    if rs == 0x00:  # EOB
                        break
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    k += rs >> 4
                    size = rs & 0x0F
                    if k > 63:
                        raise ValueError("jpg: AC index overrun")
                    while nbits < size:
                        if pos >= dlen:
                            raise ValueError(exhausted)
                        acc = (acc << 8) | data[pos]
                        pos += 1
                        nbits += 8
                    nbits -= size
                    amp = (acc >> nbits) & ((1 << size) - 1)
                    acc &= (1 << nbits) - 1
                    zz[k] = (
                        amp if amp >= (1 << (size - 1)) else amp - (1 << size) + 1
                    ) if size else 0
                    k += 1
                if ci == 0:  # luma plane is all the feature path needs
                    luma_zz.append(zz)
    # dequantize + IDCT BATCHED over every luma block (one stacked matmul
    # pair instead of a per-block loop — the other measured kernel half)
    qid0 = comps[0][1]
    zzm = np.asarray(luma_zz, dtype=np.int64)
    coef = np.zeros((len(luma_zz), 8, 8), dtype=np.float64)
    coef[:, zz_r, zz_c] = zzm * qtables[qid0][zz_r, zz_c]
    blocks = d.T @ coef @ d + 128.0
    blocks = np.clip(np.rint(blocks), 0, 255).astype(np.uint8)
    luma = (
        blocks.reshape(bh, bw_, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw_ * 8)
    )
    return _nearest(luma[:h0, :w0], width, height)


# ------------------------------------------------------------- batch frame

#: image decode mode -> raster decoder(payload, width, height)
_RASTERS = {
    "fake": _fake_pixels,
    "real": _real_pixels,
    "ppm": _ppm_pixels,
    "png": _png_pixels,
    "jpg": _jpg_pixels,
}

#: decode modes per modality; ``real`` audio and video would need a codec
#: library the engine does not ship (see _check_decode)
_DECODE_MODES = {
    "image": tuple(_RASTERS),
    "audio": ("fake", "wav"),
    "video": ("fake", "avi"),
}


def _check_decode(modality: str, decode: str) -> None:
    """The one decode gate, run when a kernel is called (before planning):
    an unknown mode raises ValueError, and ``real`` audio or video raises
    NotImplementedError. Image ``real`` passes: Pillow is probed in the
    worker, where _real_pixels raises if it is missing."""
    modes = _DECODE_MODES[modality]
    if decode == "real" and decode not in modes:
        lib = (
            "an audio codec library (soundfile / PyAV)"
            if modality == "audio"
            else "an ffmpeg binding (PyAV)"
        )
        alts = " or ".join(f"decode='{m}'" for m in modes)
        raise NotImplementedError(
            f"decode='real' for {modality} requires {lib}, not present in "
            f"this environment; use {alts}"
        )
    if decode not in modes:
        raise ValueError(f"unknown decode mode: {decode}")


def _decode_batch(payloads: list[bytes], width: int, height: int, decode: str) -> np.ndarray:
    """(batch, height, width) uint8 pixels via the selected image codec."""
    decoder = _RASTERS[decode]
    return np.stack([decoder(p, width, height) for p in payloads])


def _clips(payloads: list[bytes], n: int, decode: str) -> list[np.ndarray]:
    """int64 PCM per clip. ``wav`` decodes RIFF/WAVE PCM16 at each clip's
    true sample count; ``fake`` reads ``n`` bytes of the SHA-256 counter
    stream as unsigned 8-bit PCM centered at 128 (bit-reproducible by the
    DuckDB oracle)."""
    if decode == "wav":
        return [_wav_samples(p).astype(np.int64) for p in payloads]
    return [_fake_pixels(p, n, 1).ravel().astype(np.int64) - 128 for p in payloads]


def _spread(df: DataFrame) -> DataFrame:
    """Few-split sources (one parquet file) would decode every batch in a
    single python worker; round-robin them across the cluster first. Real
    multi-split media tables skip this branch and stay shuffle-free."""
    if df.isStreaming:
        # micro-batches are already split by the source; .rdd (and a
        # blanket repartition) are illegal on a streaming frame
        return df
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism // 2:
        df = df.repartition(parallelism)
    return df


def _media_map(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    schema: str,
    kernel: Callable[[list[bytes], pd.DataFrame], dict],
) -> DataFrame:
    """The one batch frame of every media kernel: _spread, one
    ``mapInPandas``, payloads as bytes, the id column, the empty batch and
    the NULL rule. ``kernel(payloads, pdf)`` sees only the rows that have
    a payload (``pdf`` holds them, for ids and metadata) and returns
    ``{column: values}``; a kernel that emits several rows per item
    (sample_frames) returns its own repeated ``id_col``. A NULL payload
    yields one row with its id and NULL outputs. ``schema`` is the output
    DDL, ``"name type, ..."``."""
    cols = [field.split()[0] for field in schema.split(", ")]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            live = pdf[payload_col].notna().to_numpy()
            rows = pdf if live.all() else pdf[live]
            out = {id_col: rows[id_col].to_numpy()}
            if len(rows):
                out.update(kernel([bytes(p) for p in rows[payload_col]], rows))
            frame = pd.DataFrame(out, columns=cols)
            if not live.all():
                ids = np.concatenate([out[id_col], pdf[id_col].to_numpy()[~live]])
                frame = frame.reindex(range(len(ids)))  # new rows are all NaN
                frame[id_col] = ids
                # Arrow reads NaN as NULL in numeric columns but needs None
                # in the object (array, string) ones
                obj = frame.columns[frame.dtypes == object]
                frame[obj] = frame[obj].where(frame[obj].notna(), None)
            yield frame

    return _spread(df).mapInPandas(gen, schema=schema)


def decode_features(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    n_features: int = 16,
    decode: str = "fake",
) -> DataFrame:
    """(media_id, n_bytes, features array<double>) — decode + global feature
    extraction per media item."""
    _check_decode("image", decode)

    def kernel(payloads: list[bytes], pdf: pd.DataFrame) -> dict:
        # per-item decode loop (codec call); everything else is
        # whole-batch array work
        px = _decode_batch(payloads, 32, 32, decode)
        b, size = px.shape[0], px.shape[1] * px.shape[2]
        # batched histogram: offset each row's bucket ids into a private
        # range and run ONE bincount over the flattened batch
        buckets = (px.reshape(b, size).astype(np.int64) * n_features) // 256
        buckets += np.arange(b)[:, None] * n_features
        hist = np.bincount(buckets.ravel(), minlength=b * n_features)
        return {
            "n_bytes": [len(p) for p in payloads],
            "features": list(hist.reshape(b, n_features) / size),
        }

    return _media_map(
        df, id_col, payload_col,
        f"{id_col} long, n_bytes long, features array<double>", kernel,
    )


def resize(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    width: int = 8,
    height: int = 8,
    decode: str = "fake",
) -> DataFrame:
    """(media_id, width, height, pixels array<int>) — downsampled grid."""
    _check_decode("image", decode)

    def kernel(payloads: list[bytes], pdf: pd.DataFrame) -> dict:
        n = len(payloads)
        if decode == "fake":
            # the fake decode draws its 32x32 raster, then subsamples it
            small = _nearest(_decode_batch(payloads, 32, 32, decode), width, height)
        else:
            # the codecs resize during decode — already (height, width)
            small = _decode_batch(payloads, width, height, decode)
        return {
            "width": np.full(n, width, dtype=np.int32),
            "height": np.full(n, height, dtype=np.int32),
            "pixels": list(small.reshape(n, -1).astype(np.int64)),
        }

    return _media_map(
        df, id_col, payload_col,
        f"{id_col} long, width int, height int, pixels array<int>", kernel,
    )


def sample_frames(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    meta_col: str = "meta",
    fps: float = 1.0,
    decode: str = "fake",
) -> DataFrame:
    """Video frame sampling: one output row per sampled frame offset,
    (media_id, frame_idx, offset_ms, frame_features); a NULL payload gives
    one row with NULL frame columns (explode_outer semantics).

    ``decode='fake'``: frame count derives from meta.duration_ms and the
    per-frame features are the deterministic pseudo-decode; an item with
    no duration (a NULL ``meta`` or a NULL ``meta.duration_ms``) gives one
    frame at offset 0.
    ``decode='avi'``: REAL bytes->frames execution in pure numpy —
    uncompressed RIFF-AVI payloads are walked frame by frame
    (``_avi_frames``), duration and native frame times come from the
    container's own dwMicroSecPerFrame, and each sampled offset reads the
    native frame covering it (features = 8x8 nearest-subsampled luma /
    255, the same grid as the fake path). ``decode='real'`` (arbitrary
    containers via an ffmpeg binding) raises NotImplementedError when
    called."""
    _check_decode("video", decode)

    def kernel(payloads: list[bytes], pdf: pd.DataFrame) -> dict:
        ids, ks, offs, feats = [], [], [], []
        metas = pdf[meta_col] if decode == "fake" else [None] * len(payloads)
        for mid, p, meta in zip(pdf[id_col], payloads, metas):
            if decode == "avi":
                frames, usec = _avi_frames(p)
                duration_ms = len(frames) * usec // 1000
            else:
                base = hashlib.sha256(p + b":")
                d = None if meta is None else meta["duration_ms"]
                duration_ms = 0 if d is None else int(d)
            for k in range(max(1, int(duration_ms / 1000.0 * fps))):
                off = int(k * 1000.0 / fps)
                if decode == "avi":  # the native frame covering the offset
                    px = _nearest(frames[min(len(frames) - 1, off * 1000 // usec)], 8, 8)
                else:
                    px = _fake_frame(base, off, 8, 8)
                ids.append(mid)
                ks.append(k)
                offs.append(off)
                feats.append(px.ravel() / 255.0)
        return {
            id_col: np.array(ids, dtype=np.int64),
            "frame_idx": np.array(ks, dtype=np.int32),
            "offset_ms": np.array(offs, dtype=np.int64),
            "frame_features": feats,
        }

    return _media_map(
        df, id_col, payload_col,
        f"{id_col} long, frame_idx int, offset_ms long, frame_features array<double>",
        kernel,
    )


def audio_features(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    n_samples: int = 1024,
    decode: str = "fake",
) -> DataFrame:
    """(media_id, n_bytes, rms, peak, zero_cross) — audio-clip feature
    extraction over Arrow batches, completing the multimodal family's
    decode surface (image: decode_features/resize; video: sample_frames;
    audio: this).

    decode='fake' expands the payload through the same SHA-256 counter
    stream as the image path and reads it as unsigned 8-bit PCM centered
    at 128 — bit-reproducible by the DuckDB oracle. Features are computed
    so the oracle can match EXACTLY, not approximately: the squared sum
    accumulates in int64, the mean divides by a power of two (exact in
    binary), and IEEE-754 sqrt is correctly rounded in both engines, so
    even rms is bit-identical cross-engine. decode='wav' parses REAL
    audio bytes — RIFF/WAVE PCM16 — in pure numpy (chunk walk, int16
    raster, channel averaging), the audio analogue of the image path's
    decode='ppm'; it runs end-to-end here with no codec library (features
    over each clip's true sample count). decode='real' would need a
    general audio codec (soundfile/PyAV), absent here, and raises like
    the other real-codec gates."""
    _check_decode("audio", decode)

    def kernel(payloads: list[bytes], pdf: pd.DataFrame) -> dict:
        # one pass over the concatenated clips, reduced per clip: ragged
        # (wav) and equal-length (fake) clips take the same arrays path
        clips = _clips(payloads, int(n_samples), decode)
        lens = np.array([len(x) for x in clips])
        starts = np.cumsum(lens) - lens
        x = np.concatenate(clips)
        neg = x < 0
        flips = np.append(neg[1:] != neg[:-1], False)
        flips[starts + lens - 1] = False  # no crossing between two clips
        return {
            "n_bytes": [len(p) for p in payloads],
            "rms": np.sqrt(np.add.reduceat(x * x, starts) / lens),
            "peak": np.maximum.reduceat(np.abs(x), starts).astype(np.int32),
            "zero_cross": np.add.reduceat(flips.astype(np.int64), starts).astype(np.int32),
        }

    return _media_map(
        df, id_col, payload_col,
        f"{id_col} long, n_bytes long, rms double, peak int, zero_cross int",
        kernel,
    )


# ---------------------------------------------------------------- perceptual hash


def phash_hex(px: np.ndarray) -> list[str]:
    """64-bit DCT perceptual hashes for a (batch, 32, 32) pixel block,
    as 16-hex-char strings (hex, not int64: band extraction then needs no
    signed-shift gymnastics in either engine, and the oracle replays the
    same kernel byte-for-byte).

    Classic pHash: 2D orthonormal DCT of the 32x32 grayscale raster, keep
    the top-left 8x8 low-frequency block, threshold every coefficient
    against the MEDIAN OF THE 63 AC COEFFICIENTS (DC excluded — it is
    raw mean brightness and would drag the median), bit i (row-major,
    MSB first) = coefficient > median. Equal-to-median compares 0. All
    float64 numpy — deterministic for a given library, replayed verbatim
    by the oracle."""
    m8 = _dct_matrix(32)[:8]
    # only the low-frequency 8x8 block is ever read: two small products
    # (~10k multiply-adds per raster) instead of the full 32x32 transform
    block = (m8 @ px.astype(np.float64) @ m8.T).reshape(len(px), 64)
    med = np.median(block[:, 1:], axis=1, keepdims=True)
    bits = block > med
    # vectorized pack: 64 bools -> 8 bytes -> 16 hex chars per row (a
    # per-row Python shift loop measured as pure interpreter overhead on
    # the 5M-item 100x capture)
    packed = np.packbits(bits, axis=1)
    return [row.tobytes().hex() for row in packed]


def phash64(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    decode: str = "fake",
) -> DataFrame:
    """(media_id, phash string) — DCT perceptual hash per media item: the
    image-side analogue of SimHash (near-identical images differ in a few
    bits; crops/re-encodes move low-frequency structure little). One
    mapInPandas pass, no shuffle; dedup rides :func:`phash_dup_pairs`."""
    _check_decode("image", decode)
    return _media_map(
        df, id_col, payload_col, f"{id_col} long, phash string",
        lambda payloads, pdf: {"phash": phash_hex(_decode_batch(payloads, 32, 32, decode))},
    )


def phash_band_sigs(hash_col: str | F.Column, composite: bool = False) -> list:
    """Band signature expressions for a 16-hex-char pHash (a column name or
    expression): the four 16-bit hex bands, or (composite) the C(4,2)=6
    concatenated band pairs. ONE source of truth for batch (phash_dup_pairs,
    video_phash_dup_pairs per frame) and streaming (stream_media_phash_dedup)
    so band math can never diverge."""
    if composite:
        import itertools

        return [
            F.concat(
                F.substring(hash_col, 1 + 4 * i, 4),
                F.substring(hash_col, 1 + 4 * j, 4),
            )
            for i, j in itertools.combinations(range(4), 2)
        ]
    return [F.substring(hash_col, 1 + 4 * b, 4) for b in range(4)]


def resolve_composite_bands(composite_bands: bool | str, max_hamming: int) -> bool:
    """The one radius rule of perceptual banding: ``"auto"`` picks composite
    2-of-4 banding whenever the radius permits it (max_hamming <= 2) and
    single 4x16-bit bands only for radius 3. Pigeonhole recall holds for
    max_hamming <= 2 (composite: two flips disturb at most two bands,
    leaving an intact pair) or <= 3 (single bands); any other radius
    raises."""
    if composite_bands == "auto":
        composite_bands = max_hamming <= 2
    limit = 2 if composite_bands else 3
    if not 0 <= max_hamming <= limit:
        raise ValueError(
            f"{'composite 2-of-4' if composite_bands else 'single 4x16'} phash"
            f" banding guarantees recall only for 0 <= max_hamming <= {limit}"
        )
    return bool(composite_bands)


def phash_hamming(a: str, b: str) -> F.Column:
    """Exact hamming distance between two pHash hex columns: band-wise
    bit_count(xor) over NON-NEGATIVE 16-bit ints (hex parsing per band —
    no signed-64 shift semantics to match across engines)."""
    ham = None
    for k in range(4):
        ba = F.conv(F.substring(a, 1 + 4 * k, 4), 16, 10).cast("long")
        bb = F.conv(F.substring(b, 1 + 4 * k, 4), 16, 10).cast("long")
        t = F.bit_count(ba.bitwiseXOR(bb))
        ham = t if ham is None else (ham + t)
    return ham


def phash_dup_pairs(
    hashed: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "phash",
    max_hamming: int = 2,
    composite_bands: bool | str = "auto",
) -> DataFrame:
    """Near-dup media pairs by banded perceptual hash: the 64-bit hash
    splits into four 16-bit hex bands; candidates share at least one band
    (equi-join on (band index, band value) — pigeonhole guarantees every
    pair within hamming <= 3 collides somewhere, the SimHash-banding
    argument); verification is the exact hamming distance, computed
    band-wise as bit_count(xor) over NON-NEGATIVE 16-bit ints (hex
    parsing per band — no signed-64 shift semantics to match across
    engines). Output (src, dst, hamming) with hamming <= max_hamming.

    Banding mode (resolve_composite_bands): ``"auto"`` (default) is the
    scale-safe composite 2-of-4 banding for max_hamming <= 2 — buckets at
    N/2^32 — and single 16-bit bands only for an explicit radius 3, whose
    N/2^16 buckets measured linear to 5M items (BASELINE.md §8.6) but grow
    candidate volume N^2/2^16 beyond that; ``composite_bands=False`` pins
    single bands at any radius <= 3. Candidates come from
    banding.banded_pairs."""
    composite = resolve_composite_bands(composite_bands, max_hamming)
    # length contract enforced row-locally (the video form's guard, same
    # hazard): a short/malformed hash — '' or a 64-char vhash passed by
    # mistake — yields '' band substrings that share ('', band) buckets
    # with every other malformed row (all-pairs candidate blowup) and its
    # NULL hammings would then be silently dropped. Mismatched rows are
    # excluded, and excluded loudly in the plan, not hashed wrongly.
    hashed = hashed.filter(F.length(F.col(hash_col)) == 16)
    cand = banded_pairs(
        hashed, id_col, phash_band_sigs(hash_col, composite), carry=[hash_col]
    )
    verified = cand.withColumn(
        "hamming", phash_hamming(f"{hash_col}_a", f"{hash_col}_b")
    ).filter(F.col("hamming") <= max_hamming)
    return verified.select("src", "dst", "hamming")


def audio_fingerprint_hex(clips: Sequence[np.ndarray]) -> list[str]:
    """64-bit audio fingerprints (16 hex chars) — the audio member of the
    perceptual-hash family (image: :func:`phash_hex`): split each clip
    into 17 frames, measure spectral energy in 4 equal rfft bands per
    frame, bit (t, b) = band energy rose from frame t to t+1
    (Chromaprint/Shazam lineage: sign-of-energy-delta is robust to gain —
    scaling every sample scales every energy equally, so no bit moves —
    and to codec-level amplitude jitter). 16 transitions x 4 bands = 64
    bits, MSB first in (transition, band) row-major order. Clips shorter
    than 17 samples zero-pad; zero-energy ties compare False (strict >).
    All float64 numpy, replayed verbatim by the oracle."""
    n_frames, n_bands = 17, 4
    # band-resolution floor: with frame length >= 6 the rfft has >= 4
    # bins, so every band owns at least one bin. Shorter clips would pin
    # up to 48 of the 64 bits to a constant (empty-band energies tie at
    # zero), collapsing unrelated clips into the dedup radius — measured
    # ~1.3% false-dup rate at 20 samples. Zero-padding to the floor keeps
    # degenerate clips from aborting a corpus scan (the repo convention)
    # while removing the constant-bit pathology; genuinely tiny clips
    # still carry fewer informative bits, which is inherent.
    min_len = 6 * n_frames
    out = []
    for x in clips:
        x = np.asarray(x, dtype=np.float64)
        if len(x) < min_len:
            x = np.pad(x, (0, min_len - len(x)))
        flen = len(x) // n_frames
        frames = x[: flen * n_frames].reshape(n_frames, flen)
        spec = np.abs(np.fft.rfft(frames, axis=1)) ** 2
        nb = spec.shape[1]
        edges = [(k * nb) // n_bands for k in range(n_bands + 1)]
        energy = np.stack(
            [spec[:, edges[k] : edges[k + 1]].sum(axis=1) for k in range(n_bands)],
            axis=1,
        )  # (frames, bands)
        bits = energy[1:] > energy[:-1]  # (16, 4)
        packed = np.packbits(bits.reshape(1, 64), axis=1)
        out.append(packed[0].tobytes().hex())
    return out


def audio_fingerprint(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    n_samples: int = 1024,
    decode: str = "fake",
) -> DataFrame:
    """(media_id, afp string) — perceptual audio fingerprint per clip,
    over the same decode surface as :func:`audio_features` (fake PCM or
    real RIFF/WAVE). One mapInPandas pass, no shuffle; near-dup pairing
    rides :func:`phash_dup_pairs` unchanged (hash_col='afp') — the hex
    band machinery is hash-family-agnostic."""
    _check_decode("audio", decode)
    return _media_map(
        df, id_col, payload_col, f"{id_col} long, afp string",
        lambda payloads, pdf: {
            "afp": audio_fingerprint_hex(_clips(payloads, int(n_samples), decode))
        },
    )


def video_phash(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    n_frames: int = 4,
    decode: str = "fake",
) -> DataFrame:
    """(media_id, vhash string) — per-video perceptual signature: pHash of
    ``n_frames`` sampled frames concatenated as one 16*n_frames-hex-char
    string. Frame sampling follows the repo's video conventions:
    ``decode='fake'`` derives frame k's raster from the payload plus the
    ASCII offset suffix sample_frames uses (payload + b":" + str(k*1000)
    — externally replayable); ``decode='avi'`` reads REAL uncompressed
    RIFF-AVI frames (evenly spaced over the container's true frame count,
    nearest-resized to the 32x32 pHash grid). One mapInPandas pass;
    pairing rides :func:`video_phash_dup_pairs`."""
    _check_decode("video", decode)
    nf = int(n_frames)

    def kernel(payloads: list[bytes], pdf: pd.DataFrame) -> dict:
        rasters = []  # nf frames per item, item-major
        for p in payloads:
            if decode == "avi":
                # decode each container ONCE (the RIFF walk dominates),
                # then take nf evenly spaced frames of its true frame count
                frames, _usec = _avi_frames(p)
                picks = np.linspace(0, len(frames) - 1, nf).astype(int)
                rasters.append(_nearest(frames[picks], 32, 32))
            else:
                base = hashlib.sha256(p + b":")
                rasters.append(
                    np.stack([_fake_frame(base, k * 1000, 32, 32) for k in range(nf)])
                )
        hexes = phash_hex(np.concatenate(rasters))
        return {"vhash": ["".join(hexes[i * nf : (i + 1) * nf]) for i in range(len(payloads))]}

    return _media_map(df, id_col, payload_col, f"{id_col} long, vhash string", kernel)


def video_phash_dup_pairs(
    hashed: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "vhash",
    n_frames: int = 4,
    max_hamming: int = 2,
    composite_bands: bool | str = "auto",
) -> DataFrame:
    """Near-dup video pairs: candidates share any (frame, band) 16-bit
    bucket (4*n_frames keys per video); verification is the exact
    PER-FRAME hamming, and a pair survives only if EVERY aligned frame is
    within ``max_hamming`` — the "same video" criterion (one shared scene
    is not a duplicate). Pigeonhole holds per frame: all-frames-within-3
    implies frame 0 is within 3, so one of its bands collides. Output
    (src, dst, max_frame_hamming).

    Banding mode: the image form's rule (resolve_composite_bands), applied
    per frame — composite signatures pair bands WITHIN one frame. The
    single-band collision floor is per band, not per video: each 16-bit
    bucket still holds N/2^16 items (BASELINE.md §8.6-8.7)."""
    composite = resolve_composite_bands(composite_bands, max_hamming)
    nf = int(n_frames)
    # length contract enforced row-locally: a signature whose length
    # disagrees with n_frames is a caller mismatch (hashed with a
    # different frame count). Short hashes would silently verify only a
    # prefix; LONG-hash mismatches are worse — substring past the end
    # returns '' so EVERY video would share ('', band) buckets, an
    # all-pairs candidate explosion. Mismatched rows are excluded, and
    # excluded loudly in the plan (the filter is visible), not hashed
    # wrongly.
    hashed = hashed.filter(F.length(F.col(hash_col)) == 16 * nf)
    frames = [F.substring(hash_col, 1 + 16 * f, 16) for f in range(nf)]
    sigs = [s for fr in frames for s in phash_band_sigs(fr, composite)]
    cand = banded_pairs(hashed, id_col, sigs, carry=[hash_col])
    frame_hams = [
        phash_hamming(
            F.substring(f"{hash_col}_a", 1 + 16 * f, 16),
            F.substring(f"{hash_col}_b", 1 + 16 * f, 16),
        )
        for f in range(nf)
    ]
    worst = F.greatest(*frame_hams) if nf > 1 else frame_hams[0]
    return (
        cand.withColumn("max_frame_hamming", worst)
        .filter(F.col("max_frame_hamming") <= max_hamming)
        .select("src", "dst", "max_frame_hamming")
    )
