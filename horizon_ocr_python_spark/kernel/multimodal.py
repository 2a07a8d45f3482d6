"""Multimodal (image/audio/video) column handling — Spark-side plumbing with
stubbed codecs.

Design per the training-data-pipeline brief: media travel as opaque `binary`
columns with a typed metadata struct; the functions here are per-row
kernels: `decode_image` runs inside the extraction stage's Arrow row map
(engine/schema.map_rows), `parse_image_meta` inside the `multimodal_meta`
operator's Arrow batches (operators/arrow_ops). PNG, baseline JPEG,
uncompressed TIFF and BMP decode for REAL (kernel.png / kernel.jpeg /
kernel.simple_images, stdlib+numpy only); the remaining formats (WebP,
progressive JPEG, compressed TIFF) stay stubbed: `decode_image` raises
NotImplementedError, which the document kernel contains as a
metadata-only row.

Reference analogue: io/image.py:49-148 (decode + EXIF orient) and
io/image.py:150-185 (bytes/base64 ingest).
"""

from __future__ import annotations

import struct
from typing import Optional

import numpy as np


def parse_image_meta(data: bytes) -> dict:
    """Parse width/height/format from PNG or JPEG headers (pure bytes math).

    Returns {format, width, height, n_bytes}; unknown formats get
    format='unknown', width=height=0.
    """
    n = len(data)
    if data[:8] == b"\x89PNG\r\n\x1a\n" and n >= 24:
        w, h = struct.unpack(">II", data[16:24])
        return {"format": "png", "width": int(w), "height": int(h), "n_bytes": n}
    if data[:3] == b"\xff\xd8\xff":
        i = 2
        while i + 9 < n:
            if data[i] != 0xFF:
                i += 1
                continue
            marker = data[i + 1]
            if marker in (0xC0, 0xC1, 0xC2, 0xC3):  # SOF segments carry dims
                h, w = struct.unpack(">HH", data[i + 5:i + 9])
                return {"format": "jpeg", "width": int(w), "height": int(h), "n_bytes": n}
            seg_len = struct.unpack(">H", data[i + 2:i + 4])[0]
            i += 2 + seg_len
        return {"format": "jpeg", "width": 0, "height": 0, "n_bytes": n}
    if data[:2] == b"BM" and n >= 26:
        w, h = struct.unpack("<ii", data[18:26])
        return {"format": "bmp", "width": int(abs(w)), "height": int(abs(h)),
                "n_bytes": n}
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        try:
            from .simple_images import tiff_dims

            w, h = tiff_dims(data)  # IFD-only: O(header), no pixel decode
            return {"format": "tiff", "width": int(w), "height": int(h),
                    "n_bytes": n}
        except Exception:
            return {"format": "tiff", "width": 0, "height": 0, "n_bytes": n}
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return {"format": "webp", "width": 0, "height": 0, "n_bytes": n}
    return {"format": "unknown", "width": 0, "height": 0, "n_bytes": n}


_EXIF_ORIENTATION_TAG = 274


def exif_orientation(data: bytes) -> int:
    """Read the EXIF orientation (1-8) from a JPEG APP1 segment or a TIFF
    IFD; 1 (upright) when absent or unparseable. The reference reads this
    on every image load (io/image.py:81-148). The APP1 payload is
    "Exif\\0\\0" + a TIFF structure whose offsets are relative to the TIFF
    header — kernel.simple_images.read_ifd handles that via `base`."""
    from .simple_images import read_ifd

    try:
        if data[:4] in (b"II*\x00", b"MM\x00*"):  # bare TIFF file
            _, values = read_ifd(data)
            return int(values(_EXIF_ORIENTATION_TAG, [1])[0])
        if data[:3] != b"\xff\xd8\xff":
            return 1
        i, n = 2, len(data)
        while i + 4 < n:
            if data[i] != 0xFF:
                i += 1
                continue
            marker = data[i + 1]
            if marker == 0xFF:
                i += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD9:
                i += 2
                continue
            seg_len = struct.unpack(">H", data[i + 2:i + 4])[0]
            if marker == 0xE1 and data[i + 4:i + 10] == b"Exif\x00\x00":
                _, values = read_ifd(data, base=i + 10)
                return int(values(_EXIF_ORIENTATION_TAG, [1])[0])
            if marker == 0xDA:  # entropy data: no APP segments past here
                break
            i += 2 + seg_len
    except Exception:
        pass
    return 1


def decode_image(data: bytes) -> np.ndarray:
    """Decode image bytes to an HxWx3 BGR uint8 array (io/image.py:49-79).

    PNG (8-bit gray/RGB) decodes for REAL via the stdlib codec
    (kernel.png — zlib inflate + scanline un-filtering). Baseline JPEG
    decodes for REAL via kernel.jpeg (pure numpy huffman + IDCT) —
    progressive/arithmetic JPEGs raise NotImplementedError, contained
    upstream as an error/metadata-only row. BMP and uncompressed TIFF
    decode via kernel.simple_images; other formats (WebP) raise
    NotImplementedError.
    """
    meta = parse_image_meta(data)
    if meta["format"] == "png":
        from .png import decode_png

        rgb = decode_png(data)
        if rgb.ndim == 2:
            rgb = np.stack([rgb] * 3, axis=-1)
        return np.ascontiguousarray(rgb[..., ::-1])  # RGB -> BGR
    if meta["format"] == "jpeg":
        from .jpeg import decode_jpeg

        rgb = decode_jpeg(data)
        # EXIF orientation applied on every load (io/image.py:100-148)
        rgb = apply_exif_orientation(rgb, exif_orientation(data))
        return np.ascontiguousarray(rgb[..., ::-1])  # RGB -> BGR
    if meta["format"] == "bmp":
        from .simple_images import decode_bmp

        return np.ascontiguousarray(decode_bmp(data)[..., ::-1])
    if meta["format"] == "tiff":
        from .simple_images import decode_tiff

        img = apply_exif_orientation(decode_tiff(data),
                                     exif_orientation(data))
        return np.ascontiguousarray(img[..., ::-1])
    raise NotImplementedError(
        f"{meta['format']} decoding requires a codec library (not in "
        "this container)."
    )


EXIF_ORIENTATION_OPS = {
    1: lambda a: a,
    2: lambda a: a[:, ::-1],
    3: lambda a: a[::-1, ::-1],
    4: lambda a: a[::-1, :],
    5: lambda a: a.transpose(1, 0, 2)[:, ::-1][::-1, :][:, ::-1],
    6: lambda a: a.transpose(1, 0, 2)[:, ::-1],
    7: lambda a: a.transpose(1, 0, 2)[::-1, :][:, ::-1][::-1, :],
    8: lambda a: a.transpose(1, 0, 2)[::-1, :],
}


def apply_exif_orientation(img: np.ndarray, orientation: int) -> np.ndarray:
    """8-way EXIF orientation correction (io/image.py:100-148) in pure numpy."""
    op = EXIF_ORIENTATION_OPS.get(orientation)
    return np.ascontiguousarray(op(img)) if op else img


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize in pure numpy (the crop-normalize analogue of
    ocr/crops.py:133-175 without cv2)."""
    h, w = img.shape[:2]
    rows = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    cols = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[rows][:, cols]

