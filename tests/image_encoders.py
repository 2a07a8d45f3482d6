"""Test-side image writers: the twins of the kernel's BMP, TIFF and EXIF
readers (kernel.simple_images, kernel.multimodal.exif_orientation), so
decode is checked against known pixels."""

from __future__ import annotations

import struct

import numpy as np

from horizon_ocr_python_spark.kernel.multimodal import _EXIF_ORIENTATION_TAG
from horizon_ocr_python_spark.kernel.simple_images import (
    _TAG_BITS, _TAG_COMPRESSION, _TAG_HEIGHT, _TAG_PHOTOMETRIC, _TAG_SAMPLES,
    _TAG_STRIP_COUNTS, _TAG_STRIP_OFFSETS, _TAG_WIDTH)

_TAG_ROWS_PER_STRIP = 278


def encode_bmp(img: np.ndarray) -> bytes:
    """24-bit uncompressed bottom-up BMP from HxW or HxWx3 (RGB) uint8."""
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=-1)
    h, w = img.shape[:2]
    row_len = (w * 3 + 3) & ~3
    bgr = img[..., ::-1]  # BMP stores BGR
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = bgr[y].tobytes()
        body += row + b"\x00" * (row_len - len(row))
    pixel_offset = 14 + 40
    size = pixel_offset + len(body)
    header = (b"BM" + struct.pack("<IHHI", size, 0, 0, pixel_offset)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                            2835, 2835, 0, 0))
    return bytes(header + body)


def encode_tiff(img: np.ndarray, big_endian: bool = False) -> bytes:
    """Baseline uncompressed TIFF (single strip) from HxW gray or HxWx3 RGB."""
    e = ">" if big_endian else "<"
    gray = img.ndim == 2
    h, w = img.shape[:2]
    spp = 1 if gray else 3
    pixels = img.tobytes()
    # layout: header(8) + pixel data + IFD
    data_off = 8
    ifd_off = data_off + len(pixels)
    entries = [
        (_TAG_WIDTH, 3, 1, w),
        (_TAG_HEIGHT, 3, 1, h),
        (_TAG_BITS, 3, 1, 8) if gray else (_TAG_BITS, 3, 3, None),
        (_TAG_COMPRESSION, 3, 1, 1),
        (_TAG_PHOTOMETRIC, 3, 1, 1 if gray else 2),
        (_TAG_STRIP_OFFSETS, 4, 1, data_off),
        (_TAG_SAMPLES, 3, 1, spp),
        (_TAG_ROWS_PER_STRIP, 3, 1, h),
        (_TAG_STRIP_COUNTS, 4, 1, len(pixels)),
    ]
    # BITS for RGB needs an external array of three SHORTs
    extra = b""
    extra_off = ifd_off + 2 + 12 * len(entries) + 4
    ifd = struct.pack(e + "H", len(entries))
    for tag, typ, count, val in entries:
        if val is None:  # bits-per-sample triplet lives out-of-line
            ifd += struct.pack(e + "HHII", tag, typ, 3, extra_off + len(extra))
            extra += struct.pack(e + "HHH", 8, 8, 8)
        elif typ == 3:
            # SHORT value inline in the 4-byte slot (left-justified)
            ifd += struct.pack(e + "HHIHH", tag, typ, count, val, 0)
        else:
            ifd += struct.pack(e + "HHII", tag, typ, count, val)
    ifd += struct.pack(e + "I", 0)  # next IFD
    magic = b"MM" if big_endian else b"II"
    header = magic + struct.pack(e + "HI", 42, ifd_off)
    return header + pixels + ifd + extra


def inject_exif_orientation(jpeg_data: bytes, orientation: int) -> bytes:
    """Insert an APP1 Exif segment carrying just the orientation tag right
    after SOI — the writer twin of multimodal.exif_orientation."""
    tiff = (b"II*\x00" + struct.pack("<I", 8)           # header, IFD at 8
            + struct.pack("<H", 1)                      # one entry
            + struct.pack("<HHIHH", _EXIF_ORIENTATION_TAG, 3, 1,
                          orientation, 0)
            + struct.pack("<I", 0))                     # no next IFD
    payload = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
    return jpeg_data[:2] + app1 + jpeg_data[2:]
