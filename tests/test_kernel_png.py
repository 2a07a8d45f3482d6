"""PNG codec round-trips + real decode through the multimodal path."""

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from horizon_ocr_python_spark.kernel import multimodal as M
from horizon_ocr_python_spark.kernel.png import decode_png, encode_png


class TestRoundtrip:
    def test_rgb_roundtrip(self):
        rng = np.random.default_rng(1)
        img = rng.integers(0, 256, (37, 53, 3), dtype=np.uint8)
        assert (decode_png(encode_png(img)) == img).all()

    def test_gray_roundtrip(self):
        rng = np.random.default_rng(2)
        img = rng.integers(0, 256, (20, 31), dtype=np.uint8)
        assert (decode_png(encode_png(img)) == img).all()

    @given(st.integers(1, 24), st.integers(1, 24), st.integers(0, 2**32 - 1))
    @settings(max_examples=30, deadline=None)
    def test_roundtrip_property(self, h, w, seed):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert (decode_png(encode_png(img)) == img).all()

    def test_all_filter_types_decode(self):
        """Hand-build a PNG using each scanline filter; the decoder must
        reconstruct the same pixels as filter-0 encoding of those pixels."""
        rng = np.random.default_rng(3)
        img = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
        # encode manually with per-row filters 0..4
        h, w = img.shape[:2]
        raws = []
        prev = np.zeros(w * 3, dtype=np.int16)
        for y, f in zip(range(h), [0, 1, 2, 3, 4]):
            line = img[y].reshape(-1).astype(np.int16)
            if f == 0:
                enc = line
            elif f == 1:
                enc = line.copy()
                enc[3:] = (line[3:] - line[:-3]) % 256
            elif f == 2:
                enc = (line - prev) % 256
            elif f == 3:
                enc = line.copy()
                for x in range(w * 3):
                    left = line[x - 3] if x >= 3 else 0
                    enc[x] = (line[x] - ((int(left) + int(prev[x])) >> 1)) % 256
            else:  # paeth
                enc = line.copy()
                for x in range(w * 3):
                    a = int(line[x - 3]) if x >= 3 else 0
                    b = int(prev[x])
                    c = int(prev[x - 3]) if x >= 3 else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    enc[x] = (line[x] - pred) % 256
            raws.append(bytes([f]) + bytes(enc.astype(np.uint8)))
            prev = line

        def chunk(tag, body):
            return (struct.pack(">I", len(body)) + tag + body
                    + struct.pack(">I", zlib.crc32(tag + body)))

        png = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(b"".join(raws)))
               + chunk(b"IEND", b""))
        assert (decode_png(png) == img).all()

    def test_rejects_garbage_and_unsupported(self):
        with pytest.raises(ValueError):
            decode_png(b"not a png")
        with pytest.raises(ValueError):
            # 16-bit depth unsupported
            bad_ihdr = struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)
            png = (b"\x89PNG\r\n\x1a\n"
                   + struct.pack(">I", 13) + b"IHDR" + bad_ihdr
                   + struct.pack(">I", zlib.crc32(b"IHDR" + bad_ihdr)))
            decode_png(png)


class TestMultimodalRealDecode:
    def test_png_decodes_for_real(self):
        img = np.zeros((10, 12, 3), dtype=np.uint8)
        img[..., 0] = 10  # R
        img[..., 2] = 30  # B
        bgr = M.decode_image(encode_png(img))
        assert bgr.shape == (10, 12, 3)
        assert bgr[0, 0, 0] == 30 and bgr[0, 0, 2] == 10  # BGR order

    def test_jpeg_decodes_for_real_now(self):
        # malformed JPEG -> clean error (not a stub any more: kernel.jpeg)
        with pytest.raises(ValueError):
            M.decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 32)
        # WebP remains the declared stub (TIFF/BMP decode for real now)
        with pytest.raises(NotImplementedError):
            M.decode_image(b"RIFF" + b"\x00" * 4 + b"WEBP" + b"\x00" * 20)

    def test_gray_png_promoted_to_bgr(self):
        img = np.full((6, 6), 77, dtype=np.uint8)
        out = M.decode_image(encode_png(img))
        assert out.shape == (6, 6, 3) and (out == 77).all()
