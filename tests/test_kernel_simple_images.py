"""Uncompressed TIFF + BMP codecs (kernel.simple_images) and their wiring
into multimodal / type sniffing / the document pipeline."""

import struct

import numpy as np
import pytest

from horizon_ocr_python_spark.kernel import multimodal, pdf_text
from horizon_ocr_python_spark.kernel import simple_images as si
from image_encoders import encode_bmp, encode_tiff


def _rgb(h=37, w=53):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack([(yy * 5) % 256, (xx * 3) % 256, (yy + xx) % 256],
                    axis=-1).astype(np.uint8)


class TestBmp:
    def test_roundtrip_24bit(self):
        img = _rgb()
        assert (si.decode_bmp(encode_bmp(img)) == img).all()

    def test_gray_input_promoted(self):
        gray = np.arange(64, dtype=np.uint8).reshape(8, 8)
        out = si.decode_bmp(encode_bmp(gray))
        assert (out[..., 0] == gray).all() and (out[..., 2] == gray).all()

    def test_8bit_palette(self):
        # hand-built 2x2 8-bit BMP with a 2-color palette
        pal = bytes([0, 0, 255, 0]) + bytes([255, 255, 255, 0])  # red, white
        rows = bytes([0, 1, 0, 0]) + bytes([1, 0, 0, 0])  # padded to 4
        pixel_off = 14 + 40 + len(pal)
        hdr = (b"BM" + struct.pack("<IHHI", pixel_off + len(rows), 0, 0, pixel_off)
               + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 8, 0, len(rows),
                             0, 0, 2, 0))
        img = si.decode_bmp(hdr + pal + rows)
        # bottom-up: file row 0 = image row 1
        assert img[1, 0].tolist() == [255, 0, 0]    # palette 0 = red
        assert img[1, 1].tolist() == [255, 255, 255]
        assert img[0, 0].tolist() == [255, 255, 255]

    def test_compressed_rejected(self):
        data = bytearray(encode_bmp(_rgb(4, 4)))
        struct.pack_into("<I", data, 30, 1)  # biCompression = RLE8
        with pytest.raises(NotImplementedError):
            si.decode_bmp(bytes(data))


class TestTiff:
    @pytest.mark.parametrize("be", [False, True])
    def test_roundtrip_rgb(self, be):
        img = _rgb()
        assert (si.decode_tiff(encode_tiff(img, big_endian=be)) == img).all()

    @pytest.mark.parametrize("be", [False, True])
    def test_roundtrip_gray(self, be):
        gray = ((np.arange(60).reshape(6, 10) * 4) % 256).astype(np.uint8)
        out = si.decode_tiff(encode_tiff(gray, big_endian=be))
        assert (out[..., 1] == gray).all()

    def test_compressed_rejected(self):
        data = bytearray(encode_tiff(_rgb(4, 4)))
        # flip the compression tag value (tag 259, inline SHORT)
        i = data.find(struct.pack("<HH", 259, 3))
        data[i + 8] = 5  # LZW
        with pytest.raises(NotImplementedError):
            si.decode_tiff(bytes(data))


class TestWiring:
    def test_meta_and_decode_routing(self):
        img = _rgb(17, 23)
        for enc, fmt in [(encode_bmp, "bmp"), (encode_tiff, "tiff")]:
            data = enc(img)
            meta = multimodal.parse_image_meta(data)
            assert (meta["format"], meta["width"], meta["height"]) == (fmt, 23, 17)
            bgr = multimodal.decode_image(data)
            assert (bgr[..., ::-1] == img).all()

    def test_sniff_type(self):
        assert pdf_text.sniff_type(encode_bmp(_rgb(8, 8))) == "image"
        assert pdf_text.sniff_type(encode_tiff(_rgb(8, 8))) == "image"
        assert pdf_text.sniff_type(encode_tiff(_rgb(8, 8), True)) == "image"
        # plain text starting with "BM" stays html
        assert pdf_text.sniff_type(b"BMW cars are " + b"x" * 100) == "html"

    def test_document_pipeline_tiff_row(self):
        from horizon_ocr_python_spark.kernel.document import extract_document

        doc = extract_document("https://x/scan.tiff", encode_tiff(_rgb(30, 40)))
        assert doc["status"] == "ok"
        assert doc["metadata"]["file_type"] == "image"
        page = doc["pages"][0]
        assert (page["metadata"]["width"], page["metadata"]["height"]) == (40, 30)

    def test_webp_still_stubbed(self):
        data = b"RIFF" + b"\x00" * 4 + b"WEBP" + b"\x00" * 20
        assert multimodal.parse_image_meta(data)["format"] == "webp"
        with pytest.raises(NotImplementedError):
            multimodal.decode_image(data)


class TestAdviceR3:
    """Round-3 ADVICE fixes: photometric handling + IFD-only metadata."""

    def test_photometric_whiteiszero_inverts(self):
        gray = (np.arange(64, dtype=np.uint8) * 4).reshape(8, 8)
        data = bytearray(encode_tiff(gray))
        # flip the PHOTOMETRIC tag value from 1 (BlackIsZero) to 0
        ifd_off = struct.unpack("<I", data[4:8])[0]
        n = struct.unpack("<H", data[ifd_off:ifd_off + 2])[0]
        for i in range(n):
            off = ifd_off + 2 + 12 * i
            tag = struct.unpack("<H", data[off:off + 2])[0]
            if tag == 262:
                data[off + 8:off + 10] = struct.pack("<H", 0)
        out = si.decode_tiff(bytes(data))
        assert (out[:, :, 0] == 255 - gray).all()

    def test_photometric_palette_rejected(self):
        data = bytearray(encode_tiff(_rgb(4, 4)))
        ifd_off = struct.unpack("<I", data[4:8])[0]
        n = struct.unpack("<H", data[ifd_off:ifd_off + 2])[0]
        for i in range(n):
            off = ifd_off + 2 + 12 * i
            tag = struct.unpack("<H", data[off:off + 2])[0]
            if tag == 262:
                data[off + 8:off + 10] = struct.pack("<H", 3)
        with pytest.raises(NotImplementedError, match="photometric"):
            si.decode_tiff(bytes(data))

    @pytest.mark.parametrize("be", [False, True])
    def test_tiff_dims_header_only(self, be):
        data = encode_tiff(_rgb(37, 53), big_endian=be)
        assert si.tiff_dims(data) == (53, 37)
        # metadata path must not decode pixels: truncating the strip data
        # (but keeping the IFD, which sits AFTER pixels here -> rebuild)
        meta = multimodal.parse_image_meta(data)
        assert (meta["width"], meta["height"]) == (53, 37)
