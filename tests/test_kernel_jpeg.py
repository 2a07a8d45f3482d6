"""Baseline JPEG codec (kernel.jpeg) — round-trips, subsampling, restart
markers, containment, and the image-document pipeline path."""

import numpy as np
import pytest

from horizon_ocr_python_spark.kernel import jpeg, multimodal
from image_encoders import inject_exif_orientation


def _gradient(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack([(yy * 3) % 256, (xx * 2) % 256, (yy + xx) % 256],
                    axis=-1).astype(np.uint8)


class TestRoundTrip:
    @pytest.mark.parametrize("q,sub,tol", [(95, False, 4), (90, False, 6),
                                           (95, True, 8), (75, True, 16)])
    def test_gradient(self, q, sub, tol):
        img = _gradient(50, 70)
        dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=q, subsample_420=sub))
        assert dec.shape == img.shape
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= tol

    def test_flat_is_lossless(self):
        img = np.full((16, 24, 3), 128, np.uint8)
        dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img, 95))
        assert (dec == img).all()

    def test_non_multiple_of_8_and_gray_input(self):
        img = np.full((13, 9), 200, np.uint8)  # 2-D grayscale
        dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img, 95))
        assert dec.shape == (13, 9, 3)
        assert np.abs(dec.astype(int) - 200).max() <= 2

    def test_deterministic_bytes(self):
        img = _gradient(24, 24)
        assert jpeg.encode_jpeg(img, 90) == jpeg.encode_jpeg(img, 90)

    def test_doc_image_shape(self):
        from horizon_ocr_python_spark.sources import _png_doc_image

        img = _png_doc_image.render(seed=99)
        dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=88))
        # document structure survives: header bar region much darker than page
        assert dec[10:14, 20:140].mean() < 100 < dec[50:60, 0:10].mean()


class TestContainment:
    def test_truncated_stream_returns_partial_image(self):
        img = _gradient(40, 40)
        data = jpeg.encode_jpeg(img, 90)
        sos = data.find(b"\xff\xda")
        assert sos > 0
        cut = data[:sos + 50]  # headers intact, entropy data truncated
        dec = jpeg.decode_jpeg(cut)  # decodes what's there, never raises
        assert dec.shape == (40, 40, 3)

    def test_progressive_rejected_cleanly(self):
        # hand-build a header with SOF2 (progressive)
        data = (b"\xff\xd8" + b"\xff\xc2" + b"\x00\x0b" + b"\x08" +
                b"\x00\x10\x00\x10" + b"\x01" + b"\x01\x11\x00")
        with pytest.raises(NotImplementedError):
            jpeg.decode_jpeg(data)

    def test_not_a_jpeg(self):
        with pytest.raises(ValueError):
            jpeg.decode_jpeg(b"\x00\x01\x02")


class TestMultimodalPath:
    def test_decode_image_routes_jpeg(self):
        img = _gradient(32, 48)
        bgr = multimodal.decode_image(jpeg.encode_jpeg(img, 95))
        assert bgr.shape == (32, 48, 3)
        # BGR channel order: red gradient lands in channel 2
        assert np.abs(bgr[..., 2].astype(int) - img[..., 0].astype(int)).max() <= 4

    def test_meta_parse_matches_decode(self):
        img = _gradient(17, 29)
        data = jpeg.encode_jpeg(img, 90, subsample_420=True)
        meta = multimodal.parse_image_meta(data)
        assert (meta["format"], meta["width"], meta["height"]) == ("jpeg", 29, 17)

    def test_document_pipeline_jpeg_row(self):
        """A JPEG image row flows through extract_document with readability
        computed from real decoded pixels."""
        from horizon_ocr_python_spark.kernel.document import extract_document
        from horizon_ocr_python_spark.sources import _png_doc_image

        img = _png_doc_image.render(seed=4)
        payload = jpeg.encode_jpeg(img, quality=88)
        doc = extract_document("https://x.example/scan.jpg", payload)
        assert doc["status"] == "ok"
        assert doc["metadata"]["file_type"] == "image"
        page = doc["pages"][0]
        assert page["metadata"]["width"] == 160
        assert page["metadata"]["height"] == 120
        assert page["metadata"]["readability"] in ("good", "fair", "poor")
        assert page["layout_regions"][0]["type"] == "image"

    def test_generator_emits_both_formats(self):
        from horizon_ocr_python_spark.sources import pages

        formats = set()
        for i in range(400):
            p = pages.make_page(i, seed=42)
            if p["kind"] == "image":
                formats.add(multimodal.parse_image_meta(p["html"])["format"])
        assert formats == {"png", "jpeg"}


class TestFillBytes:
    def test_ff_fill_bytes_before_marker(self):
        """T.81 allows 0xFF padding before any marker; the segment walker
        must skip the run instead of parsing a bogus length from it."""
        img = _gradient(24, 24)
        data = jpeg.encode_jpeg(img, 90)
        # inject fill bytes before the SOF0 marker (FF C0)
        i = data.index(b"\xff\xc0")
        padded = data[:i] + b"\xff\xff\xff" + data[i:]
        assert (jpeg.decode_jpeg(padded) == jpeg.decode_jpeg(data)).all()


class TestExifOrientation:
    """Round-3: APP1 Exif orientation parsed and applied on image load
    (reference io/image.py:81-148)."""

    def test_no_app1_defaults_upright(self):
        data = jpeg.encode_jpeg(_gradient(16, 16), 90)
        assert multimodal.exif_orientation(data) == 1

    def test_all_eight_orientations_applied(self):
        img = _gradient(24, 16)
        enc = jpeg.encode_jpeg(img, 95)
        base = multimodal.decode_image(enc)
        for o in range(1, 9):
            tagged = inject_exif_orientation(enc, o)
            assert multimodal.exif_orientation(tagged) == o
            got = multimodal.decode_image(tagged)
            want = multimodal.apply_exif_orientation(base, o)
            assert got.shape == want.shape
            assert (got == want).all(), o

    def test_rotate_90_pair_roundtrips(self):
        img = _gradient(24, 16)
        a = multimodal.apply_exif_orientation(img, 6)
        assert a.shape[:2] == (16, 24)
        assert (multimodal.apply_exif_orientation(a, 8) == img).all()

    def test_header_dims_unchanged_but_decode_rotated(self):
        enc = inject_exif_orientation(
            jpeg.encode_jpeg(_gradient(32, 16), 92), 6)
        meta = multimodal.parse_image_meta(enc)
        assert (meta["width"], meta["height"]) == (16, 32)  # stored dims
        assert multimodal.decode_image(enc).shape[:2] == (16, 32)

    def test_pipeline_rotated_jpeg_row(self):
        from horizon_ocr_python_spark.kernel.document import extract_document

        enc = inject_exif_orientation(
            jpeg.encode_jpeg(_gradient(64, 32), 92), 6)
        doc = extract_document("https://x/rot.jpg", enc)
        assert doc["status"] == "ok"
        page = doc["pages"][0]["metadata"]
        # 64x32 stored, orientation 6 -> displayed 32 tall x 64 wide
        assert (page["width"], page["height"]) == (64, 32)
