"""Uncompressed TIFF and BMP codecs — pure numpy + struct.

The reference decodes tiff/bmp through PIL (io/image.py:49-148). This
module covers the uncompressed subsets (the overwhelming majority of BMPs;
TIFF compression=1) so only WebP remains a declared stub:

- BMP: BITMAPFILEHEADER + BITMAPINFOHEADER, 8-bit gray(palette)/24/32-bit,
  bottom-up and top-down (negative height), 4-byte row padding.
- TIFF: both byte orders (II/MM), baseline tags, compression=1 (none),
  photometric 1 (gray) / 2 (RGB), 8 bits/sample, any strip layout.

The matching encoders live with the tests (tests/image_encoders.py), which
check decode against known pixels.
"""

from __future__ import annotations

import struct

import numpy as np


# --- BMP -----------------------------------------------------------------------


def decode_bmp(data: bytes) -> np.ndarray:
    """Decode uncompressed 8/24/32-bit BMP to HxWx3 RGB uint8."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    pixel_offset = struct.unpack("<I", data[10:14])[0]
    hdr_size = struct.unpack("<I", data[14:18])[0]
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMPs")
    w, h_raw = struct.unpack("<ii", data[18:26])
    bits, compression = struct.unpack("<HI", data[28:34])
    if compression != 0:
        raise NotImplementedError(f"BMP compression {compression}")
    if bits not in (8, 24, 32):
        raise NotImplementedError(f"{bits}-bit BMP")
    top_down = h_raw < 0
    h = abs(h_raw)
    bpp = bits // 8
    row_len = (w * bpp + 3) & ~3
    palette = None
    if bits == 8:
        n_colors = struct.unpack("<I", data[46:50])[0] or 256
        pal = np.frombuffer(data, dtype=np.uint8,
                            count=n_colors * 4, offset=14 + hdr_size)
        palette = pal.reshape(-1, 4)[:, :3][:, ::-1]  # BGRA -> RGB
    out = np.zeros((h, w, 3), dtype=np.uint8)
    for i in range(h):
        y = i if top_down else h - 1 - i
        off = pixel_offset + i * row_len
        row = np.frombuffer(data, dtype=np.uint8, count=w * bpp, offset=off)
        if bits == 8:
            out[y] = palette[row]
        else:
            px = row.reshape(w, bpp)
            out[y] = px[:, 2::-1][:, :3] if bpp == 3 else px[:, [2, 1, 0]]
    return out


# --- TIFF ----------------------------------------------------------------------

_TAG_WIDTH, _TAG_HEIGHT, _TAG_BITS = 256, 257, 258
_TAG_COMPRESSION, _TAG_PHOTOMETRIC = 259, 262
_TAG_STRIP_OFFSETS, _TAG_SAMPLES = 273, 277
_TAG_STRIP_COUNTS = 279


def read_ifd(data: bytes, base: int = 0):
    """Parse the first IFD of a TIFF structure whose header starts at
    `base` (0 for a .tif file; the byte after "Exif\\0\\0" for a JPEG APP1
    payload — all TIFF offsets are relative to the header start). Returns
    (endianness, values) where values(tag, default) -> list of ints.
    O(#tags) — never touches pixel data, so metadata-only callers stay
    O(header) regardless of image size."""
    if data[base:base + 2] == b"II":
        e = "<"
    elif data[base:base + 2] == b"MM":
        e = ">"
    else:
        raise ValueError("not a TIFF")
    magic, ifd_off = struct.unpack(e + "HI", data[base + 2:base + 8])
    if magic != 42:
        raise ValueError("bad TIFF magic")
    n = struct.unpack(e + "H", data[base + ifd_off:base + ifd_off + 2])[0]
    tags: dict[int, tuple[int, int, bytes]] = {}
    for i in range(n):
        off = base + ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack(e + "HHI", data[off:off + 8])
        tags[tag] = (typ, count, data[off + 8:off + 12])

    def values(tag, default=None):
        if tag not in tags:
            return default
        typ, count, raw = tags[tag]
        size = {1: 1, 3: 2, 4: 4}.get(typ)
        if size is None:
            raise NotImplementedError(f"TIFF tag type {typ}")
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        total = size * count
        buf = raw[:total] if total <= 4 else \
            data[base + struct.unpack(e + "I", raw)[0]:][:total]
        return list(struct.unpack(e + fmt * count, buf))

    return e, values


def tiff_dims(data: bytes) -> tuple[int, int]:
    """(width, height) from the IFD alone — the metadata-only fast path."""
    _, values = read_ifd(data)
    return values(_TAG_WIDTH, [0])[0], values(_TAG_HEIGHT, [0])[0]


def decode_tiff(data: bytes) -> np.ndarray:
    """Decode baseline uncompressed TIFF to HxWx3 RGB uint8."""
    e, values = read_ifd(data)

    compression = values(_TAG_COMPRESSION, [1])[0]
    if compression != 1:
        raise NotImplementedError(f"TIFF compression {compression}")
    bits = values(_TAG_BITS, [8])
    if any(b != 8 for b in bits):
        raise NotImplementedError(f"TIFF bits {bits}")
    # photometric 0 (WhiteIsZero) is handled by inverting the plane below;
    # 1 (BlackIsZero) / 2 (RGB) decode directly; anything else (palette,
    # CMYK, YCbCr...) is a declared codec boundary, not a silent misdecode.
    photometric = values(_TAG_PHOTOMETRIC, [1])[0]
    if photometric not in (0, 1, 2):
        raise NotImplementedError(f"TIFF photometric {photometric}")
    w = values(_TAG_WIDTH)[0]
    h = values(_TAG_HEIGHT)[0]
    spp = values(_TAG_SAMPLES, [1])[0]
    offsets = values(_TAG_STRIP_OFFSETS)
    counts = values(_TAG_STRIP_COUNTS)
    raw = b"".join(data[o:o + c] for o, c in zip(offsets, counts))
    arr = np.frombuffer(raw, dtype=np.uint8, count=h * w * spp)
    if photometric == 0:  # WhiteIsZero: invert to the BlackIsZero convention
        arr = 255 - arr
    if spp == 1:
        gray = arr.reshape(h, w)
        return np.stack([gray] * 3, axis=-1)
    return arr.reshape(h, w, spp)[:, :, :3].copy()
