"""Pure-Python PNG codec (stdlib zlib + numpy) for the multimodal path.

No imaging library ships in this container, but PNG itself is just
zlib (stdlib) plus five per-scanline byte filters -- so every static
PNG flavor decodes natively and ``ops.multimodal.decode_image`` no
longer needs to stub them:

* bit depths 1/2/4/8/16 (gray + palette at sub-byte depths, all color
  types at 8, gray/RGB/RGBA at 16),
* color types 0 (gray), 2 (RGB), 3 (palette, with optional tRNS
  alpha), 4 (gray+alpha), 6 (RGBA),
* both interlace modes (none + Adam7).

The remaining codec gaps (JPEG entropy coding, real video) stay
explicitly gated: they need codec tables/DSP, not byte algebra.

Decode cost is O(bytes) with numpy-vectorized None/Sub/Up rows; the
sequential Average/Paeth filters fall back to a per-pixel loop, fine
for the thumbnail-scale blobs a training pipeline fingerprint pass
touches (heavy decode at 100 TB belongs on a codec library anyway --
this keeps the *dataflow* real end-to-end).

All arithmetic stays in int64: np.uint64 % python-int silently
promotes to float64.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .codec_errors import normalize_decode_errors

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# color type -> samples per pixel (3 = palette: one index sample)
_SAMPLES = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_COLOR_OF_CH = {1: 0, 2: 4, 3: 2, 4: 6}
_VALID_DEPTHS = {
    0: {1, 2, 4, 8, 16},
    2: {8, 16},
    3: {1, 2, 4, 8},
    4: {8, 16},
    6: {8, 16},
}

# Adam7 pass layout: (x0, y0, dx, dy)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _unfilter(raw: bytes, pos: int, h: int, stride: int, bpp: int):
    """Reverse the five PNG scanline filters over ``h`` rows of
    ``stride`` bytes (``bpp`` = filter byte-distance = bytes per
    pixel, min 1).  Returns (uint8 array (h, stride), new pos)."""
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    w_px = stride // bpp if bpp else 0
    for y in range(h):
        ftype = raw[pos]
        pos += 1
        line = np.frombuffer(raw, np.uint8, stride, pos).astype(np.int64)
        pos += stride
        if ftype == 0:  # None
            recon = line
        elif ftype == 1:  # Sub: recon[x] = line[x] + recon[x-bpp]
            if stride % bpp:
                # stride not divisible by bpp cannot happen for valid
                # PNGs (stride = ceil(w*depth*samples/8) aligns to the
                # filter distance), guard anyway
                raise ValueError("PNG stride/bpp mismatch")
            # column-wise cumsum over pixels == the recurrence mod 256
            recon = np.cumsum(
                line.reshape(w_px, bpp), axis=0, dtype=np.int64
            ).reshape(stride) % 256
        elif ftype == 2:  # Up
            recon = (line + prev) % 256
        elif ftype == 3:  # Average (sequential in x)
            recon = np.empty(stride, dtype=np.int64)
            left = np.zeros(bpp, dtype=np.int64)
            for x in range(w_px):
                s = slice(x * bpp, (x + 1) * bpp)
                left = (line[s] + ((left + prev[s]) >> 1)) % 256
                recon[s] = left
        elif ftype == 4:  # Paeth (sequential in x)
            recon = np.empty(stride, dtype=np.int64)
            left = np.zeros(bpp, dtype=np.int64)
            upleft = np.zeros(bpp, dtype=np.int64)
            for x in range(w_px):
                s = slice(x * bpp, (x + 1) * bpp)
                up = prev[s]
                p = left + up - upleft
                pa = np.abs(p - left)
                pb = np.abs(p - up)
                pc = np.abs(p - upleft)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left,
                    np.where(pb <= pc, up, upleft),
                )
                left = (line[s] + pred) % 256
                recon[s] = left
                upleft = up
            # (upleft trails one pixel inside the loop; prev handles y)
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = recon.astype(np.uint8)
        prev = recon
    return out, pos


def _rows_to_samples(rows: np.ndarray, w: int, samples: int,
                     depth: int) -> np.ndarray:
    """(h, stride) filtered bytes -> (h, w, samples) sample values
    (uint8 for depth<=8 -- sub-byte depths unpacked, NOT scaled --
    uint16 for depth 16)."""
    h = rows.shape[0]
    if depth == 8:
        return rows.reshape(h, w * samples)[:, : w * samples].reshape(
            h, w, samples
        )
    if depth == 16:
        pairs = rows.reshape(h, w * samples, 2).astype(np.uint16)
        return ((pairs[:, :, 0] << 8) | pairs[:, :, 1]).reshape(
            h, w, samples
        )
    # 1/2/4-bit (gray or palette): big-endian bit packing, w samples
    # per row, trailing pad bits ignored
    bits = np.unpackbits(rows, axis=1)
    per = bits.shape[1] // depth
    vals = np.zeros((h, per), dtype=np.uint8)
    for b in range(depth):
        vals = (vals << 1) | bits[:, b::depth][:, :per]
    return vals[:, :w].reshape(h, w, 1)


@normalize_decode_errors("PNG")
def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8/uint16 array (h, w) for grayscale or
    (h, w, ch).

    Supports every static PNG flavor (see module docstring): bit
    depths 1-16, all five color types incl. palette (+tRNS alpha),
    non-interlaced and Adam7.  Sub-byte grayscale is scaled to the
    full 0-255 range (255/(2^d-1), exact integers); 16-bit images
    return uint16.  Raises on malformed input.
    """
    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG (bad magic)")
    pos = 8
    ihdr = None
    plte = None
    trns = None
    idat: list[bytes] = []
    while pos + 8 <= len(data):
        length, ctype = struct.unpack(">I4s", data[pos:pos + 8])
        chunk = data[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + type + payload + crc
        if ctype == b"IHDR":
            ihdr = chunk
        elif ctype == b"PLTE":
            plte = chunk
        elif ctype == b"tRNS":
            trns = chunk
        elif ctype == b"IDAT":
            idat.append(chunk)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("truncated PNG (missing IHDR/IDAT)")
    w, h, depth, color, _comp, _filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if color not in _SAMPLES:
        raise ValueError(f"bad PNG color type {color}")
    if depth not in _VALID_DEPTHS[color]:
        raise ValueError(f"bad PNG depth {depth} for color type {color}")
    if color == 3 and plte is None:
        raise ValueError("palette PNG without PLTE chunk")
    samples = _SAMPLES[color]
    bpp = max(1, samples * depth // 8)

    def stride_of(width: int) -> int:
        return (width * samples * depth + 7) // 8

    raw = zlib.decompress(b"".join(idat))

    if interlace == 0:
        expect = (stride_of(w) + 1) * h if w and h else 0
        if len(raw) != expect:
            raise ValueError("PNG scanline payload size mismatch")
        rows, _ = _unfilter(raw, 0, h, stride_of(w), bpp)
        img = _rows_to_samples(rows, w, samples, depth)
    elif interlace == 1:
        dt = np.uint16 if depth == 16 else np.uint8
        img = np.zeros((h, w, samples), dtype=dt)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            rows, pos = _unfilter(raw, pos, ph, stride_of(pw), bpp)
            img[y0::dy, x0::dx] = _rows_to_samples(rows, pw, samples, depth)
        if pos != len(raw):
            raise ValueError("Adam7 payload size mismatch")
    else:
        raise ValueError(f"bad PNG interlace method {interlace}")

    if color == 3:  # palette lookup (+ optional tRNS alpha)
        pal = np.frombuffer(plte, dtype=np.uint8)
        if len(pal) % 3:
            raise ValueError("PLTE length not a multiple of 3")
        pal = pal.reshape(-1, 3)
        idx = img[:, :, 0]
        if idx.max(initial=0) >= len(pal):
            raise ValueError("palette index out of range")
        rgb = pal[idx]
        if trns is not None:
            alpha = np.full(len(pal), 255, dtype=np.uint8)
            alpha[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            return np.dstack([rgb, alpha[idx]])
        return rgb
    if color == 0 and depth < 8:
        # scale sub-byte gray to the full 8-bit range (exact: the
        # scale factor 255/(2^d-1) is an integer for d in {1,2,4})
        img = (img.astype(np.int64) * (255 // ((1 << depth) - 1))).astype(
            np.uint8
        )
    ch = img.shape[2]
    return img[:, :, 0] if ch == 1 else img


def encode_png(arr: np.ndarray) -> bytes:
    """uint8 array (h, w) or (h, w, ch in {1,2,3,4}) -> PNG bytes
    (8-bit, non-interlaced, filter None per row).  uint16 input
    encodes as a 16-bit PNG (big-endian samples)."""
    depth = 16 if np.asarray(arr).dtype == np.uint16 else 8
    a = np.ascontiguousarray(
        arr, dtype=np.uint16 if depth == 16 else np.uint8
    )
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    if ch not in _COLOR_OF_CH:
        raise ValueError(f"unsupported channel count {ch}")
    ihdr = struct.pack(">IIBBBBB", w, h, depth, _COLOR_OF_CH[ch], 0, 0, 0)
    if depth == 16:
        rows = a.astype(">u2").tobytes()
        stride = w * ch * 2
    else:
        rows = a.tobytes()
        stride = w * ch
    raw = b"".join(
        b"\x00" + rows[y * stride:(y + 1) * stride] for y in range(h)
    )
    return (
        PNG_MAGIC
        + png_chunk(b"IHDR", ihdr)
        + png_chunk(b"IDAT", zlib.compress(raw))
        + png_chunk(b"IEND", b"")
    )


def png_chunk(ctype: bytes, payload: bytes) -> bytes:
    """One framed PNG chunk (length + type + payload + CRC32)."""
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


def encode_png_indexed(indices: np.ndarray, palette: np.ndarray,
                       trns: bytes | None = None, depth: int = 8) -> bytes:
    """Palette PNG encoder (fixture/test helper): (h, w) uint8 index
    array + (n, 3) palette -> color-type-3 PNG at the given index bit
    depth (1/2/4/8), filter None per row."""
    idx = np.ascontiguousarray(indices, dtype=np.uint8)
    pal = np.ascontiguousarray(palette, dtype=np.uint8)
    h, w = idx.shape
    if depth == 8:
        packed = idx
    else:
        per_byte = 8 // depth
        pad = (-w) % per_byte
        wide = np.pad(idx, ((0, 0), (0, pad)))
        bits = np.zeros((h, wide.shape[1], depth), dtype=np.uint8)
        for b in range(depth):
            bits[:, :, b] = (wide >> (depth - 1 - b)) & 1
        packed = np.packbits(bits.reshape(h, -1), axis=1)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 0)
    raw = b"".join(b"\x00" + packed[y].tobytes() for y in range(h))
    out = PNG_MAGIC + png_chunk(b"IHDR", ihdr)
    out += png_chunk(b"PLTE", pal.tobytes())
    if trns is not None:
        out += png_chunk(b"tRNS", trns)
    return out + png_chunk(b"IDAT", zlib.compress(raw)) + png_chunk(
        b"IEND", b""
    )
