"""Text analysis + near-dup kernels."""

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st

from horizon_ocr_python_spark.kernel import dedup as D
from horizon_ocr_python_spark.kernel import textstats as T
from horizon_ocr_python_spark.kernel import multimodal as M

import numpy as np


class TestTextStats:
    def test_detect_language(self):
        assert T.detect_language("the cat and the dog sat in a box for fun") == "en"
        assert T.detect_language("der hund und die katze ist nicht da") == "de"
        assert T.detect_language("le chat et la maison est pour les amis") == "fr"
        assert T.detect_language("") == "und"
        assert T.detect_language("zzz qqq xxx") == "und"

    def test_quality_buckets(self):
        good = T.quality_score(
            "The quick brown fox jumps over the lazy dog. " * 5)
        assert good["bucket"] == "good" and good["issues"] == []
        short = T.quality_score("Tiny text.")
        assert "too_short" in short["issues"]
        nopunct = T.quality_score("word " * 30)
        assert "no_sentence_punct" in nopunct["issues"]
        sym = T.quality_score("@#$% ^&*( )!~ {}[] <>;; ::" * 5)
        assert sym["bucket"] == "poor"

    def test_token_counts(self):
        assert len(T.tokenize_ws("a b  c")) == 3
        assert T.count_tokens_bpe("hello, world! 42") == 5  # hello , world ! 42
        assert T.count_tokens_bpe("") == 0

    def test_fingerprint_canonicalization(self):
        assert T.fingerprint("Hello  World") == T.fingerprint("hello world")
        assert T.fingerprint("a") != T.fingerprint("b")
        assert T.fingerprint("x") == hashlib.md5(b"x").hexdigest()

    def test_content_key(self):
        # sha256(content||service||model||extra) — response_cache.py:66-91
        k = T.content_key(b"data", "svc", "model", "x")
        assert k == hashlib.sha256(b"datasvcmodelx").hexdigest()

    def test_rolling_and_winnow(self):
        text = "abcdefghijklmnopqrstuvwxyz" * 3
        h1 = T.rolling_hashes(text)
        h2 = T.rolling_hashes(text)
        assert h1 == h2 and len(h1) == len(text) - 16 + 1
        assert T.rolling_hashes("short") == []
        fp = T.winnow_fingerprint(text)
        assert fp and fp == T.winnow_fingerprint(text)

    @given(st.text(min_size=17, max_size=100))
    @settings(max_examples=25)
    def test_rolling_hash_window_property(self, text):
        # hash of window i depends only on text[i:i+16]
        hs = T.rolling_hashes(text)
        for i in (0, len(hs) - 1):
            expected = T.rolling_hashes(text[i:i + 16])
            assert hs[i] == expected[0]


class TestDedupKernels:
    def test_shingles(self):
        assert D.shingles("a b c d", k=3) == {"a b c", "b c d"}
        assert D.shingles("a b", k=3) == {"a b"}
        assert D.shingles("", k=3) == set()

    def test_minhash_similar_docs_share_rows(self):
        a = D.minhash_signature(D.shingles("the quick brown fox jumps over the lazy dog"))
        b = D.minhash_signature(D.shingles("the quick brown fox jumps over the lazy cat"))
        c = D.minhash_signature(D.shingles("completely different text about spark engines"))
        match_ab = sum(1 for x, y in zip(a, b) if x == y)
        match_ac = sum(1 for x, y in zip(a, c) if x == y)
        assert match_ab > match_ac

    def test_lsh_band_keys(self):
        sig = D.minhash_signature(D.shingles("one two three four five six"))
        keys = D.lsh_band_keys(sig)
        assert len(keys) == D.DEFAULT_BANDS
        assert keys == D.lsh_band_keys(sig)
        # identical docs share all bands
        sig2 = D.minhash_signature(D.shingles("one two three four five six"))
        assert D.lsh_band_keys(sig2) == keys

    def test_jaccard(self):
        assert D.jaccard({1, 2}, {1, 2}) == 1.0
        assert D.jaccard({1, 2}, {3, 4}) == 0.0
        assert D.jaccard(set(), set()) == 1.0
        assert abs(D.jaccard({1, 2, 3}, {2, 3, 4}) - 0.5) < 1e-12

    def test_simhash_near_docs_low_hamming(self):
        a = D.simhash32(D.words("the quick brown fox jumps over the lazy dog today"))
        b = D.simhash32(D.words("the quick brown fox jumps over the lazy cat today"))
        c = D.simhash32(D.words("vector shuffle partition executor catalyst tungsten"))
        assert D.hamming32(a, b) < D.hamming32(a, c)
        assert D.simhash32([]) == 0

    def test_cosine(self):
        assert abs(D.cosine([1, 0], [1, 0]) - 1.0) < 1e-12
        assert abs(D.cosine([1, 0], [0, 1])) < 1e-12
        assert D.cosine([0, 0], [1, 1]) == 0.0


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
        feats = M.image_features(img)
        assert feats["laplacian_var"] == 0.0 and feats["width"] == 20

    def test_frame_sampling(self):
        assert M.frame_sample_indices(10, 3) == [0, 3, 6]
        assert M.frame_sample_indices(2, 5) == [0, 1]
        assert M.frame_sample_indices(0, 3) == []
