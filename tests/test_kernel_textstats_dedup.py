"""Multimodal column kernels: image header parse, decode containment, EXIF
orientation and resize."""

from horizon_ocr_python_spark.kernel import multimodal as M

import numpy as np


class TestMultimodal:
    def test_png_meta(self):
        import struct, zlib
        ihdr = struct.pack(">IIBBBBB", 64, 48, 8, 2, 0, 0, 0)
        png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + ihdr
               + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr)))
        meta = M.parse_image_meta(png)
        assert meta == {"format": "png", "width": 64, "height": 48, "n_bytes": len(png)}

    def test_decode_behavior_without_fake(self):
        import pytest
        # malformed PNG: real decoder raises a ValueError (not a crash class)
        with pytest.raises(Exception):
            M.decode_image(b"\x89PNG\r\n\x1a\n" + b"0" * 24)
        # malformed JPEG: real decoder (kernel.jpeg) raises cleanly too
        with pytest.raises(Exception):
            M.decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 16)

    def test_exif_orientations(self):
        img = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
        for o in range(1, 9):
            out = M.apply_exif_orientation(img, o)
            assert sorted(out.ravel().tolist()) == sorted(img.ravel().tolist())
        assert M.apply_exif_orientation(img, 3).tolist() == img[::-1, ::-1].tolist()
        assert M.apply_exif_orientation(img, 6).shape == (4, 2, 3)

    def test_resize_and_features(self):
        img = np.full((10, 20, 3), 7, dtype=np.uint8)
        out = M.resize_nearest(img, 5, 4)
        assert out.shape == (5, 4, 3)
