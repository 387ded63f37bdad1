"""Synthetic media: render / encode / decode.

`media_ref` fully encodes the media content, e.g.

    img://v1/fast_merge_scan?skew=4&noise=17

so media bytes never need to live in the documents table — the resolver
renders them deterministically (grayscale canvas, glyph text, rotation by
`skew` degrees, seeded pixel noise). This mirrors the reference, where a
frame's OCR output is a pure function of the decoded pixel buffer
(/root/reference src/ffmpeg/decoder.cpp:213-244 produces the buffer;
tesseract.cpp consumes it).

The byte container is a trivial private format (magic + u16 h/w + raw
grayscale). Real PNG/JPEG/video-frame decode would slot in behind
``decode_image`` — see the NotImplementedError branch (codec libs are not
available in this environment; the Spark-side plumbing is identical).
"""

from __future__ import annotations

import re
import struct

import numpy as np

from .font import GLYPH_H, GLYPH_W, GLYPHS

MAGIC = b"OCSIMG1\x00"
SCALE = 3  # glyph upscaling factor (2 is too coarse to survive skew round-trips)
CHAR_GAP = 2 * SCALE  # px between chars
WORD_GAP = 8 * SCALE  # px between words (must exceed char gap for segmentation)
INK = 30  # foreground gray level
PAPER = 220  # background gray level
NOISE_AMP = 15  # +/- uniform noise on background

# Discrete skew set shared by renderer and deskew search (degrees).
SKEW_SET = (-8, -6, -4, -2, 0, 2, 4, 6, 8)

_REF_RE = re.compile(r"^img://v1/([a-z_]+)\?skew=(-?\d+)&noise=(\d+)$")


def make_media_ref(words: list[str], skew: int, noise: int) -> str:
    assert all(re.fullmatch(r"[a-z]+", w) for w in words), words
    assert skew in SKEW_SET, skew
    return f"img://v1/{'_'.join(words)}?skew={skew}&noise={noise}"


def parse_media_ref(ref: str) -> tuple[list[str], int, int]:
    m = _REF_RE.match(ref)
    if not m:
        raise ValueError(f"unrecognized media_ref: {ref!r}")
    return m.group(1).split("_"), int(m.group(2)), int(m.group(3))


# Gather-index memo for rotate_nn, keyed on (h, w, deg): the source-pixel
# mapping is a pure function of shape + angle, and canvas shapes cluster
# (word-count x word-length-sum x skew combinations — the sf0.1 corpus has
# 554 distinct keys, ~108 MB fully populated at ~5 B/pixel). The cap holds
# the whole working set and eviction is FIFO-single, not clear-all: the
# original 128-entry clear-all cap THRASHED on the real corpus (working
# set > cap wiped the dict every 128 misses — measured 1.24x slower on
# the real ref stream). ~110 MB/worker worst case; at 32 workers that is
# ~3.5 GB of a 128 GiB box, and a memory-tight deployment lowers the cap
# rather than reverting to clear-all.
_ROT_IDX: dict[tuple[int, int, float], tuple[np.ndarray, np.ndarray]] = {}
_ROT_IDX_CAP = 512


def _rot_nn_index(h: int, w: int, deg: float) -> tuple[np.ndarray, np.ndarray]:
    key = (h, w, float(deg))
    cached = _ROT_IDX.get(key)
    if cached is None:
        theta = np.deg2rad(deg)
        cos_t, sin_t = np.float64(np.cos(theta)), np.float64(np.sin(theta))
        cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
        # broadcasted inverse-rotation source coords (float64 for stable
        # rint, int32 indices, no meshgrid materialization)
        xx = np.arange(w, dtype=np.float64)[None, :] - cx
        yy = np.arange(h, dtype=np.float64)[:, None] - cy
        # (r5 note: an in-place `sx += cx; np.rint(sx, out=sx)` rewrite of
        # these two lines measured 1.4x SLOWER at function level — numpy's
        # rint-with-out dispatch loses to the expression form — so the
        # one-liners stay; only the invalid-mask accumulation below was
        # kept from that attempt. Interleaved A/B in BENCH.md r5.)
        xi = np.rint(cos_t * xx + sin_t * yy + cx).astype(np.int32)
        yi = np.rint(-sin_t * xx + cos_t * yy + cy).astype(np.int32)
        invalid = xi < 0
        np.logical_or(invalid, xi >= w, out=invalid)
        np.logical_or(invalid, yi < 0, out=invalid)
        np.logical_or(invalid, yi >= h, out=invalid)
        np.clip(xi, 0, w - 1, out=xi)
        np.clip(yi, 0, h - 1, out=yi)
        flat = yi * np.int32(w)
        flat += xi  # flat gather indices, (h, w)
        if len(_ROT_IDX) > _ROT_IDX_CAP:
            _ROT_IDX.pop(next(iter(_ROT_IDX)))  # FIFO: evict oldest entry
        cached = _ROT_IDX[key] = (flat, invalid)
    return cached


def rotate_nn(img: np.ndarray, deg: float, fill: int | float = PAPER) -> np.ndarray:
    """Nearest-neighbor rotation about the image center (same output size).

    Inverse-mapped and fully vectorized; deterministic across platforms.
    The gather indices are memoized per (shape, angle) — recomputing them
    was ~45% of the whole render path (BENCH.md r3 kernel profile)."""
    if deg == 0:
        return img.copy()
    h, w = img.shape
    flat, invalid = _rot_nn_index(h, w, deg)
    out = np.take(img.ravel(), flat)  # == img[yi, xi], same gather
    out[invalid] = fill
    return out


_SCALED_GLYPHS: dict[str, np.ndarray] = {
    ch: np.kron(g, np.ones((SCALE, SCALE), dtype=bool)) for ch, g in GLYPHS.items()
}


def _draw_words(words: list[str]) -> np.ndarray:
    """Render words on one text line as a boolean ink mask (no margins)."""
    char_w = GLYPH_W * SCALE
    char_h = GLYPH_H * SCALE
    widths = [len(w) * char_w + (len(w) - 1) * CHAR_GAP for w in words]
    total_w = sum(widths) + WORD_GAP * (len(words) - 1)
    mask = np.zeros((char_h, total_w), dtype=bool)
    x = 0
    for w, wd in zip(words, widths):
        cx = x
        for ch in w:
            mask[:, cx : cx + char_w] = _SCALED_GLYPHS[ch]
            cx += char_w + CHAR_GAP
        x += wd + WORD_GAP
    return mask


def render_image(words: list[str], skew: int, noise: int) -> np.ndarray:
    """Deterministic grayscale uint8 image containing `words`, rotated by
    `skew` degrees, with seeded background noise."""
    ink = _draw_words(words)
    h, w = ink.shape
    # Margins sized so THIS skew never clips ink: displacement <= r * tan(|deg|).
    tan_s = np.tan(np.deg2rad(abs(skew)))
    pad_y = int(np.ceil(w / 2 * tan_s)) + 4
    pad_x = int(np.ceil(h / 2 * tan_s)) + 4
    canvas = np.full((h + 2 * pad_y, w + 2 * pad_x), PAPER, dtype=np.uint8)
    canvas[pad_y : pad_y + h, pad_x : pad_x + w][ink] = INK
    canvas = rotate_nn(canvas, skew, fill=PAPER)
    rng = np.random.RandomState(noise % (2**31))  # legacy RandomState: frozen algorithm
    # int16 throughout: these full-canvas temporaries dominate memory traffic
    # when 32 workers render concurrently (PAPER+NOISE_AMP < 255, no clip needed)
    jitter = rng.randint(-NOISE_AMP, NOISE_AMP + 1, size=canvas.shape, dtype=np.int16)
    noisy = canvas.astype(np.int16)
    np.add(noisy, jitter, out=noisy, where=(canvas == PAPER))
    return noisy.astype(np.uint8)


def encode_image(img: np.ndarray) -> bytes:
    h, w = img.shape
    return MAGIC + struct.pack("<HH", h, w) + img.tobytes()


def decode_image(data: bytes) -> np.ndarray:
    """Decode media bytes to a grayscale array.

    Only the private OCSIMG1 container is implemented here; PNG/JPEG/video
    frames would be decoded by a codec library at this exact seam.
    """
    if not data.startswith(MAGIC):
        # STUB: real-codec decode requires image/video libs absent from this
        # environment. The pipeline treats bytes as opaque until this point.
        raise NotImplementedError("only OCSIMG1 synthetic container supported")
    h, w = struct.unpack_from("<HH", data, len(MAGIC))
    arr = np.frombuffer(data, dtype=np.uint8, offset=len(MAGIC) + 4)
    return arr.reshape(h, w)


def resolve_media(ref: str) -> bytes:
    """media_ref -> encoded bytes (the 'fetch + demux' stand-in)."""
    words, skew, noise = parse_media_ref(ref)
    return encode_image(render_image(words, skew, noise))


# ---------------------------------------------------------------------------
# S12 — debug bitmap sink format: real 8-bit grayscale BMP
# (BITMAPFILEHEADER + BITMAPINFOHEADER + 256-entry gray palette, rows
# bottom-up and 4-byte padded — the standard Windows DIB layout). The
# reference dumps intermediate recognition stages as .bmp for debugging
# (/root/reference src/recognition/bmp.cpp:52-87); these files open in any
# image viewer.

_BMP_HDR_SIZE = 14 + 40 + 256 * 4  # file header + info header + palette


def encode_bmp(img: np.ndarray) -> bytes:
    """uint8 grayscale array -> valid 8bpp BMP bytes."""
    assert img.dtype == np.uint8 and img.ndim == 2, (img.dtype, img.shape)
    h, w = img.shape
    row_size = (w + 3) & ~3  # rows padded to 4 bytes
    file_size = _BMP_HDR_SIZE + row_size * h
    file_hdr = b"BM" + struct.pack("<IHHI", file_size, 0, 0, _BMP_HDR_SIZE)
    info_hdr = struct.pack(
        "<IiiHHIIiiII",
        40, w, h,          # header size, width, height (positive = bottom-up)
        1, 8,              # planes, bits per pixel
        0, row_size * h,   # BI_RGB (uncompressed), image size
        2835, 2835,        # 72 DPI in px/m
        256, 0,            # palette entries, all important
    )
    palette = bytes(v for i in range(256) for v in (i, i, i, 0))  # BGRA gray ramp
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, :w] = img[::-1]  # bottom-up scanline order
    return file_hdr + info_hdr + palette + rows.tobytes()


def decode_bmp(data: bytes) -> np.ndarray:
    """Parse the 8bpp grayscale BMP subset encode_bmp writes."""
    assert data[:2] == b"BM", "not a BMP"
    pixel_offset = struct.unpack_from("<I", data, 10)[0]
    _, w, h, _, bpp = struct.unpack_from("<IiiHH", data, 14)
    assert bpp == 8 and h > 0, (bpp, h)
    row_size = (w + 3) & ~3
    rows = np.frombuffer(data, dtype=np.uint8, offset=pixel_offset).reshape(h, row_size)
    return rows[::-1, :w].copy()
