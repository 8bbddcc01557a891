"""Image codecs + perceptual hashing in pure NumPy/stdlib (N8).

The sandbox has no PIL/libpng, so codecs are implemented from the
public format specs:

- **PPM (P6)**: trivial binary RGB — the always-exact format.
- **PNG**: RGB8, zlib (stdlib) + the five standard scanline filters
  (spec filters 0-4 implemented for decode; encode uses filter 0 per
  scanline — valid PNG, lossless round-trip).

Plus: average-hash (aHash) perceptual fingerprint via block-mean
resize to 8x8 grayscale, and PSNR for the decoded-pixel invariant
(input_hint: allclose / PSNR ≥ 40 dB for lossy formats; both shipped
formats are lossless so equality is exact).

All Spark entry points batch through Arrow (mapInPandas) — the decode
loop is per-image but each image decode is vectorized NumPy.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# PPM (P6)
# ---------------------------------------------------------------------------

def encode_ppm(arr: np.ndarray) -> bytes:
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def decode_ppm(data: bytes) -> np.ndarray:
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    # header: magic, whitespace-separated w h maxval, single whitespace
    parts = []
    i = 2
    while len(parts) < 3:
        while i < len(data) and data[i : i + 1].isspace():
            i += 1
        if data[i : i + 1] == b"#":  # comment line
            while i < len(data) and data[i : i + 1] != b"\n":
                i += 1
            if i >= len(data):
                # a truncated header comment must raise, not spin on
                # the forever-empty out-of-range slice
                raise ValueError("truncated PPM header")
            continue
        j = i
        while j < len(data) and not data[j : j + 1].isspace():
            j += 1
        parts.append(int(data[i:j]))
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = parts
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    return np.frombuffer(data, np.uint8, count=w * h * 3, offset=i).reshape(h, w, 3)


# ---------------------------------------------------------------------------
# PNG (RGB8)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(typ: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + typ
        + payload
        + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = np.empty((h, w * 3 + 1), np.uint8)
    raw[:, 0] = 0  # filter type 0 per scanline
    raw[:, 1:] = arr.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    p = a.astype(np.int32) + b.astype(np.int32) - c.astype(np.int32)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def decode_png(data: bytes) -> np.ndarray:
    if not data.startswith(_PNG_SIG):
        raise ValueError("not a PNG")
    i = len(_PNG_SIG)
    idat = b""
    w = h = None
    while i < len(data):
        (length,) = struct.unpack(">I", data[i : i + 4])
        typ = data[i + 4 : i + 8]
        payload = data[i + 8 : i + 8 + length]
        if typ == b"IHDR":
            w, h, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if bit_depth != 8 or color_type != 2 or interlace != 0:
                raise ValueError("only 8-bit non-interlaced RGB PNG supported")
        elif typ == b"IDAT":
            idat += payload
        elif typ == b"IEND":
            break
        i += 12 + length
    raw = np.frombuffer(zlib.decompress(idat), np.uint8).reshape(h, w * 3 + 1)
    bpp = 3
    out = np.zeros((h, w * 3), np.uint8)
    for y in range(h):
        ft = raw[y, 0]
        line = raw[y, 1:].copy()
        prev = out[y - 1] if y > 0 else np.zeros(w * 3, np.uint8)
        if ft == 0:
            out[y] = line
        elif ft == 1:  # Sub
            for x in range(len(line)):
                left = out[y, x - bpp] if x >= bpp else 0
                out[y, x] = (int(line[x]) + int(left)) & 0xFF
        elif ft == 2:  # Up
            out[y] = (line.astype(np.int32) + prev.astype(np.int32)).astype(np.uint8)
        elif ft == 3:  # Average
            for x in range(len(line)):
                left = int(out[y, x - bpp]) if x >= bpp else 0
                out[y, x] = (int(line[x]) + (left + int(prev[x])) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for x in range(len(line)):
                left = int(out[y, x - bpp]) if x >= bpp else 0
                ul = int(prev[x - bpp]) if x >= bpp else 0
                out[y, x] = (
                    int(line[x]) + int(_paeth(np.uint8(left), prev[x], np.uint8(ul)))
                ) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {ft}")
    return out.reshape(h, w, 3)


# ---------------------------------------------------------------------------
# DCX — lossy DCT codec (JPEG-style transform coding, from the public math)
# ---------------------------------------------------------------------------
# The sandbox has no libjpeg, so the LOSSY slot is filled with a
# from-scratch transform codec built on exactly the published JPEG
# signal path (ITU-T T.81): RGB→YCbCr (BT.601 full-range), level
# shift, 8×8 DCT-II per block, quantization by the Annex-K example
# tables scaled with the public IJG quality curve, then int16
# coefficients zlib-entropy-coded (stdlib) instead of Huffman — the
# *loss* (what PSNR measures) is identical in kind to baseline JPEG's;
# only the lossless entropy stage differs. Everything is vectorized
# NumPy: one broadcasted matmul transforms every block of the image at
# once.

#: orthonormal 8×8 DCT-II matrix: coefs = C @ block @ C.T
_DCT_C = np.cos((2 * np.arange(8)[None, :] + 1) * np.arange(8)[:, None] * np.pi / 16) * 0.5
_DCT_C[0, :] *= 1.0 / np.sqrt(2.0)

#: ITU-T T.81 Annex K example quantization tables (public spec)
_Q_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.float64,
)
_Q_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.float64,
)

_DCX_MAGIC = b"DCX1"
#: default quality: the synthetic fixtures carry σ=12 per-pixel noise
#: (nearly incompressible), so the quality floor that keeps first-
#: generation PSNR ≥ 40 dB on every fixture is high (97 → 40.2 dB
#: worst; 98 → 43.8 dB worst). Real photographs compress far better
#: at the same setting.
DCX_DEFAULT_QUALITY = 98


def _dcx_qtables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality→scale curve (public libjpeg formula)."""
    q = max(1, min(100, int(quality)))
    s = 5000 // q if q < 50 else 200 - 2 * q
    def scale(t: np.ndarray) -> np.ndarray:
        return np.clip(np.floor((t * s + 50.0) / 100.0), 1.0, 255.0)
    return scale(_Q_LUMA), scale(_Q_CHROMA)


def _to_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) with H,W multiples of 8 → (n_blocks, 8, 8), row-major."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _from_blocks(blocks: np.ndarray, h: int, w: int) -> np.ndarray:
    return (
        blocks.reshape(h // 8, w // 8, 8, 8).transpose(0, 2, 1, 3).reshape(h, w)
    )


def encode_dcx(arr: np.ndarray) -> bytes:
    """Encode RGB8 → DCX (lossy). All blocks of all three planes go
    through one broadcasted DCT matmul each — no per-pixel Python."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    if h > 0xFFFF or w > 0xFFFF:
        raise ValueError(
            f"dcx header packs dims as uint16: {w}x{h} exceeds 65535 "
            "(use fmt='ppm'/'png' for larger images)"
        )
    r, g, b = (arr[:, :, i].astype(np.float64) for i in range(3))
    # BT.601 full-range (the JPEG YCbCr definition)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    ph, pw = -h % 8, -w % 8
    ql, qc = _dcx_qtables(DCX_DEFAULT_QUALITY)
    planes = []
    for plane, qt in ((y, ql), (cb, qc), (cr, qc)):
        padded = np.pad(plane, ((0, ph), (0, pw)), mode="edge") - 128.0
        blocks = _to_blocks(padded)
        # C @ block @ C.T for every block at once (broadcasted matmul)
        coefs = _DCT_C[None] @ blocks @ _DCT_C.T[None]
        qz = np.round(coefs / qt).astype(np.int16)
        planes.append(qz.tobytes())
    header = _DCX_MAGIC + struct.pack(">HHB", w, h, DCX_DEFAULT_QUALITY)
    return header + zlib.compress(b"".join(planes), 6)


def decode_dcx(data: bytes) -> np.ndarray:
    if not data.startswith(_DCX_MAGIC):
        raise ValueError("not a DCX stream")
    w, h, quality = struct.unpack(">HHB", data[4:9])
    hp, wp = h + (-h % 8), w + (-w % 8)
    n = (hp // 8) * (wp // 8) * 64
    raw = np.frombuffer(zlib.decompress(data[9:]), dtype=np.int16)
    ql, qc = _dcx_qtables(quality)
    outs = []
    for i, qt in enumerate((ql, qc, qc)):
        qz = raw[i * n : (i + 1) * n].reshape(-1, 8, 8).astype(np.float64)
        blocks = _DCT_C.T[None] @ (qz * qt) @ _DCT_C[None]
        outs.append(_from_blocks(blocks, hp, wp)[:h, :w] + 128.0)
    y, cb, cr = outs
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=2).round(), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

#: formats whose decode(encode(x)) round-trip is bit-exact — their
#: round-trip PSNR is infinite by construction, no need to measure it
LOSSLESS_FMTS = frozenset({"ppm", "png"})

#: lossy formats — the input_hint's PSNR ≥ 40 dB invariant applies
LOSSY_FMTS = frozenset({"dcx"})


def encode_image(arr: np.ndarray, fmt: str) -> bytes:
    if fmt == "ppm":
        return encode_ppm(arr)
    if fmt == "png":
        return encode_png(arr)
    if fmt == "dcx":
        return encode_dcx(arr)
    raise NotImplementedError(
        f"format {fmt!r}: decoder libraries absent in this environment "
        "(jpeg/webp would slot in here; the dcx transform codec covers "
        "the lossy path + PSNR>=40dB gate)"
    )


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "ppm":
        return decode_ppm(data)
    if fmt == "png":
        return decode_png(data)
    if fmt == "dcx":
        return decode_dcx(data)
    raise NotImplementedError(f"format {fmt!r} not available in-sandbox")


# ---------------------------------------------------------------------------
# perceptual hash + quality metrics
# ---------------------------------------------------------------------------

def _block_mean_resize(gray: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic block-mean resize to (out_h, out_w). Blocks are
    clamped to at least one source pixel: when an output axis exceeds
    the source (upscale), consecutive edges coincide and a bare slice
    mean would be NaN (empty slice) — the clamp degrades that axis to
    nearest-neighbor sampling instead, which is the correct limit of
    the block mean."""
    h, w = gray.shape
    ys = (np.arange(out_h + 1) * h) // out_h
    xs = (np.arange(out_w + 1) * w) // out_w
    out = np.empty((out_h, out_w), np.float64)
    for i in range(out_h):
        y0, y1 = ys[i], max(ys[i + 1], ys[i] + 1)
        for j in range(out_w):
            x0, x1 = xs[j], max(xs[j + 1], xs[j] + 1)
            out[i, j] = gray[y0:y1, x0:x1].mean()
    return out


def average_phash(arr: np.ndarray) -> int:
    """64-bit average-hash: 8x8 block-mean grayscale, bit=mean-above-
    average, row-major bit order, returned as signed int64."""
    gray = arr.astype(np.float64).mean(axis=2)
    small = _block_mean_resize(gray, 8, 8)
    bits = (small > small.mean()).ravel()
    h = np.uint64(0)
    for i, b in enumerate(bits):
        if b:
            h |= np.uint64(1) << np.uint64(i)
    return int(h.astype(np.int64))


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))
