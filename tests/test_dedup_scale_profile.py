"""Dedup scale behavior: the SCALE_PROFILE constants run through the same
code paths, the bucket cap bounds pair volume under boilerplate skew, and
the band-blocked Jaccard finds planted near-dups."""

from pyspark.sql import functions as F

from horizon_ocr_python_spark.operators.compose import bucket_pairs_single_pass
from horizon_ocr_python_spark.operators.dedup import (
    MAX_BAND_BUCKET,
    SCALE_PROFILE,
    band_keys_from,
    jaccard_pairs_from,
    minhash_signatures_from,
)


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string")


class TestScaleProfile:
    def test_128_hash_16_band_signatures(self, spark):
        """The production constants (128 permutations, 16 bands) run through
        the same parameterized code: 128 sig columns, 16 distinct band
        prefixes per doc, deterministic across runs."""
        docs = _docs_df(spark, ["alpha beta gamma", "alpha beta gamma",
                                "delta epsilon zeta"])
        nh, nb = SCALE_PROFILE["num_hashes"], SCALE_PROFILE["bands"]
        sig = minhash_signatures_from(docs, num_hashes=nh)
        assert len(sig.columns) == nh + 1
        keys = band_keys_from(sig, num_hashes=nh, bands=nb)
        per_doc = (keys.groupBy("doc_id")
                   .agg(F.count("*").alias("n"),
                        F.countDistinct("band_key").alias("nk")).collect())
        assert all(r.n == nb for r in per_doc)
        # identical docs share every band; the different doc shares none
        k0 = {r.band_key for r in keys.filter("doc_id = 0").collect()}
        k1 = {r.band_key for r in keys.filter("doc_id = 1").collect()}
        k2 = {r.band_key for r in keys.filter("doc_id = 2").collect()}
        assert k0 == k1 and not (k0 & k2)


class TestBucketCap:
    def test_boilerplate_corpus_bounded(self, spark):
        """30%+ of docs are identical boilerplate -> one giant band bucket.
        The cap must exclude it from pair generation, bounding the output
        at cap^2/2 per bucket instead of (0.3 n)^2/2."""
        n = 300
        texts = (["cookie banner accept all terms privacy policy"] * 100
                 + [f"unique document number {i} with words w{i} x{i} y{i}"
                    for i in range(n - 100)])
        docs = _docs_df(spark, texts)
        sig = minhash_signatures_from(docs)
        keys = band_keys_from(sig)
        pairs = bucket_pairs_single_pass(keys, "doc_id", MAX_BAND_BUCKET,
                                         None).collect()
        # the boilerplate bucket is over the cap, so none of its
        # 100*99/2 pairs is generated
        assert not [r for r in pairs if r.ia < 100 and r.ib < 100]
        # and the giant bucket existed pre-cap
        raw_max = (keys.groupBy("band_key")
                   .agg(F.count("*").alias("n")).agg(F.max("n")).collect()[0][0])
        assert raw_max >= 100

    def test_planted_neardups_found(self, spark):
        base = ("the quick brown fox jumps over the lazy dog while seventeen "
                "astronauts measure gravitational anomalies near the equator")
        texts = [base, base + " appendix", "completely different content here",
                 "another unrelated piece of text entirely about cooking"]
        docs = _docs_df(spark, texts)
        pairs = jaccard_pairs_from(docs).collect()
        assert {(r.doc_a, r.doc_b) for r in pairs} == {(0, 1)}
        assert all(r.jaccard >= 0.9 for r in pairs)


class TestNeardupVerdictCC:
    def test_chain_cluster_closure(self, spark, tmp_path):
        """A j>=0.9 chain a-b-c where j(a,c) < 0.9: single-hop anchoring
        misses c; the CC closure must put all three in one component."""
        words = [f"w{i}" for i in range(40)]
        a = " ".join(words)                       # w0..w39
        b = " ".join(words[2:] + ["x1", "x2"])    # j(a,b) = 38/42 ~ 0.905
        c = " ".join(words[4:] + ["x1", "x2", "x3", "x4"])  # j(b,c) ~ 0.9, j(a,c) ~ 0.82
        other = "totally different content about volcanoes and maps"
        df = spark.createDataFrame(
            [(0, a), (1, b), (2, c), (3, other)], "doc_id: long, text: string")
        df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
        from horizon_ocr_python_spark.operators.compose import neardup_verdict

        rows = {r.doc_id: r for r in neardup_verdict(spark, str(tmp_path)).collect()}
        # sanity: the chain shape holds
        import itertools
        ws = [set(t.split()) for t in (a, b, c)]
        j = {p: len(ws[p[0]] & ws[p[1]]) / len(ws[p[0]] | ws[p[1]])
             for p in itertools.combinations(range(3), 2)}
        assert j[(0, 1)] >= 0.9 and j[(1, 2)] >= 0.9 and j[(0, 2)] < 0.9
        assert rows[0].canonical_id == 0 and not rows[0].is_duplicate
        assert rows[1].canonical_id == 0 and rows[1].is_duplicate
        assert rows[2].canonical_id == 0 and rows[2].is_duplicate  # via closure
        assert not rows[3].is_duplicate

    def test_distributed_cc_path_matches_driver_path(self, spark, tmp_path,
                                                     monkeypatch):
        """Force the distributed label-propagation fallback (edge count cap
        = 0) and assert it produces the same components as the driver
        union-find fast path."""
        from horizon_ocr_python_spark.operators import compose

        words = [f"w{i}" for i in range(40)]
        a = " ".join(words)
        b = " ".join(words[2:] + ["x1", "x2"])
        c = " ".join(words[4:] + ["x1", "x2", "x3", "x4"])
        df = spark.createDataFrame(
            [(0, a), (1, b), (2, c), (3, "other unrelated content words")],
            "doc_id: long, text: string")
        df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

        fast = {(r.doc_id, r.canonical_id, r.is_duplicate)
                for r in compose.neardup_verdict(spark, str(tmp_path)).collect()}
        monkeypatch.setattr(compose, "DRIVER_CC_MAX_EDGES", 0)
        slow = {(r.doc_id, r.canonical_id, r.is_duplicate)
                for r in compose.neardup_verdict(spark, str(tmp_path)).collect()}
        assert fast == slow
        assert (2, 0, True) in fast  # transitive closure via chain
