"""Composed end-to-end operators: the training-pipeline flows built from the
primitive operators, each still DuckDB-oracle-exact.

- embedding_cosine_pairs: embedding-space near-dup pairs (the
  "embedding-cosine near-dup" dedup family member), routed through the
  banded random-hyperplane LSH buckets (similarity.banded_keys): candidate
  pairs come from each band_key bucket's sorted id array
  (bucket_pairs_single_pass) — no join, never a cartesian — and exact
  cosine runs only within candidates. The oracle mirrors the banded
  semantics, so the hash check is recall-independent; measured recall vs
  brute force at sf0.01 is 9/14 at the demo threshold 0.45 (the corpus is
  isotropic random, LSH's worst case; at the production near-dup threshold
  0.9 the same banding gives ~0.98 theoretical and 1.0 measured recall —
  tests/test_similarity_recall.py). Threshold 0.45 chosen from the data
  (max pairwise cosine in the driver corpus is 0.51 — a 0.95 "true dup"
  threshold would be vacuously empty).
- neardup_verdict: the full dedup flow composed — minhash-band candidates
  (linear per bucket) -> word-set jaccard >= 0.9 verification -> connected
  components -> canonical survivor (component min doc_id) -> per-document
  keep/drop verdict. One row per document.
- supplier_region_rollup: full star-schema coverage (supplier-nation-region
  broadcast join chain + aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import table
from .dedup import MAX_BAND_BUCKET, SIG_BANDS_CTE
from .similarity import BANDED_CTE, _dot, _dvec, _normed, banded_keys

COSINE_PAIR_THRESHOLD = 0.45
# Bucket cap + sorted-neighborhood width for the embedding-LSH band pairs —
# the same degenerate-bucket guard the minhash path has (MAX_BAND_BUCKET):
# without it a fixed keyspace makes bucket size ~N/keyspace and candidate
# pairs ~N^2 (the round-2 verdict's last scale-killer). Buckets over the
# cap contribute members*W neighbor links instead of members^2/2 pairs.
MAX_SIM_BUCKET = 64
SIM_NEIGHBOR_WIDTH = 4


def bucket_pairs_single_pass(keys: DataFrame, id_col: str, max_bucket: int,
                             width: int | None) -> DataFrame:
    """(band_key, id) rows -> DISTINCT candidate (ia, ib) pairs, all in
    Spark expressions: repartition by band_key, one sorted id array per
    bucket, then each member pairs with its successors in that array —
    all of them (exhaustive ia < ib) for buckets <= max_bucket, the next
    `width` for over-cap ones (sorted-neighborhood links). `width=None`
    DROPS over-cap buckets instead (the exclusion that minhash_lsh_pairs /
    ngram_jaccard_pairs and their oracles' `capped` CTE use).

    No join and no Python node in the candidate stage. The collect_list
    aggregate keeps at most 128 buckets in its hash map, then falls back
    to spillable sort-based aggregation, so task memory does not grow
    with the partition. Per-bucket pair volume stays LINEAR in membership
    for over-cap buckets. The explicit repartition keeps the pair stage on
    `defaultParallelism` tasks; without it AQE coalesces the small key
    shuffle to a single partition. Semantics pinned by
    tests/test_similarity_scale.py::test_capped_semantics_unchanged."""
    n = keys.sparkSession.sparkContext.defaultParallelism
    ids = F.col("ids")
    m = F.size(ids)
    buckets = (keys.repartition(n, "band_key").groupBy("band_key")
               .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
               .filter(m >= 2))
    if width is None:
        buckets, span = buckets.filter(m <= max_bucket), m
    else:
        span = F.when(m <= max_bucket, m).otherwise(F.lit(width))
    # slice(ids, i + 2, span): the 1-based successors of the 0-based i-th
    # member; a slice running past the end is truncated (empty for the last)
    succ = F.transform(ids, lambda x, i: F.struct(
        x.alias("ia"), F.slice(ids, i + 2, span).alias("bs")))
    return (buckets.select(F.inline(succ))
            .select("ia", F.explode("bs").alias("ib")).distinct())


def sim_candidate_pairs(keys: DataFrame, max_bucket: int = MAX_SIM_BUCKET,
                        width: int = SIM_NEIGHBOR_WIDTH) -> DataFrame:
    """(ia, ib) candidate pairs from (vec_id, band_key) rows with the
    capped-bucket guard: exhaustive within small buckets, sorted-
    neighborhood links (next `width` successors by vec_id) within giant
    ones — every bucket's contribution is LINEAR in its membership."""
    return bucket_pairs_single_pass(keys, "vec_id", max_bucket, width)


def embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup vector pairs with cosine >= 0.45 among banded-LSH candidate
    pairs. Plan shape: numpy-matmul banding (one Arrow-UDF pass) -> one
    sorted id array per band_key bucket (bucket_pairs_single_pass;
    sorted-neighborhood inside giant buckets) -> distinct (ia, ib) -> two
    equi joins to fetch vectors -> exact cosine. No non-equi join, no
    BroadcastNestedLoopJoin (pinned by tests/test_plan_shape.py);
    per-bucket pair volume bounded (pinned by
    tests/test_similarity_scale.py)."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("v"))
    # keys feed exactly one consumer now (the single-pass pair generator),
    # so the r5 localCheckpoint materialization is dead weight
    cand = sim_candidate_pairs(banded_keys(emb))
    normed = _normed(emb)
    va = normed.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"),
                       F.col("nrm").alias("na"))
    vb = normed.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"),
                       F.col("nrm").alias("nb"))
    sim = F.round(_dot(F.col("va"), F.col("vb"))
                  / (F.col("na") * F.col("nb")), 4)
    return (cand.join(va, "ia").join(vb, "ib")
            .select("ia", "ib", sim.alias("cos_sim"))
            .filter(F.col("cos_sim") >= COSINE_PAIR_THRESHOLD)
            .orderBy("ia", "ib"))


EMBEDDING_COSINE_PAIRS_SQL = f"""
WITH {BANDED_CTE},
counts AS (SELECT band_key, count(*) AS n FROM banded GROUP BY band_key),
small_pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM banded a JOIN banded b
    ON a.band_key = b.band_key AND a.vec_id < b.vec_id
  WHERE a.band_key IN (SELECT band_key FROM counts WHERE n <= {MAX_SIM_BUCKET})
), ranked AS (
  SELECT band_key, vec_id,
         row_number() OVER (PARTITION BY band_key ORDER BY vec_id) AS rn
  FROM banded
  WHERE band_key IN (SELECT band_key FROM counts WHERE n > {MAX_SIM_BUCKET})
), big_pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM ranked a JOIN ranked b
    ON a.band_key = b.band_key
   AND b.rn BETWEEN a.rn + 1 AND a.rn + {SIM_NEIGHBOR_WIDTH}
), cand AS (
  SELECT DISTINCT ia, ib FROM (
    SELECT ia, ib FROM small_pairs UNION ALL SELECT ia, ib FROM big_pairs)
), pairs AS (
  SELECT cand.ia, cand.ib,
    round(
      list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i] * b.v[i]))
      / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
         * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 4) AS cos_sim
  FROM cand JOIN emb a ON a.vec_id = cand.ia
            JOIN emb b ON b.vec_id = cand.ib
)
SELECT ia, ib, cos_sim FROM pairs
WHERE cos_sim >= {COSINE_PAIR_THRESHOLD}
ORDER BY ia, ib
"""


NEIGHBOR_WIDTH = 4  # sorted-neighborhood links per member in giant buckets
CC_MAX_ITER = 30    # hash-to-min + pointer jumping: O(log n) in practice
# Verified near-dup EDGES (not documents) below this count are union-found
# on the driver: the edge list of a dedup graph is orders of magnitude
# smaller than the corpus (only near-duplicates appear), and a bounded
# collect of it is the standard small-graph fast path (GraphX/GraphFrames
# do the same); bigger graphs take the distributed loop below.
DRIVER_CC_MAX_EDGES = 2_000_000


def _cc_labels(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Connected components by iterative min-label propagation: per round,
    every node takes min(own label, neighbors' labels, label-of-label)
    (hash-to-min + pointer jumping -> O(log n) rounds), to fixpoint.

    This is the standard large-scale CC shape — each round is one equi-join
    + map-side-combined min aggregate; lineage is truncated per round with
    localCheckpoint so the plan stays O(1) deep. Returns (doc_id, label)
    where label = min doc_id of the component."""
    # both orientations from ONE pass over the edge lineage: the union form
    # evaluated the whole upstream verify pipeline once per branch (the
    # narrow jaccard/array_intersect work above the last exchange is not
    # covered by AQE exchange reuse)
    sym = (edges.select(F.explode(F.array(
               F.struct(F.col("a").alias("x"), F.col("b").alias("y")),
               F.struct(F.col("b").alias("x"), F.col("a").alias("y"))))
               .alias("e"))
           .select("e.x", "e.y").distinct().localCheckpoint())

    n_edges = sym.count()
    if n_edges <= DRIVER_CC_MAX_EDGES:
        # small-graph fast path: union-find over the collected edge list
        # (bounded by DRIVER_CC_MAX_EDGES), labels broadcast back as a tiny
        # join side. Semantics identical to the loop: label = component min.
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in sym.collect():
            ra, rb = find(r.x), find(r.y)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        label_rows = [(n, find(n)) for n in list(parent)]
        spark = edges.sparkSession
        labels = spark.createDataFrame(label_rows, "doc_id: long, label: long")
        return (nodes.join(F.broadcast(labels), "doc_id", "left")
                .select("doc_id",
                        F.coalesce("label", "doc_id").alias("label")))
    # iterate ONLY over nodes that appear in an edge — at corpus scale the
    # dup-graph members are a small fraction of all documents, so the loop's
    # working set is edge-sized, not corpus-sized. Isolated docs join back
    # (label = own id) at the end.
    members = sym.select(F.col("x").alias("doc_id")).distinct()
    labels = members.select("doc_id", F.col("doc_id").alias("label")) \
        .localCheckpoint()

    def one_round(cur):
        nbr = (sym.join(cur.withColumnRenamed("doc_id", "y"), "y")
               .groupBy("x").agg(F.min("label").alias("nbr_label"))
               .withColumnRenamed("x", "doc_id"))
        relaxed = (cur.join(nbr, "doc_id", "left")
                   .select("doc_id",
                           F.least("label", F.coalesce("nbr_label", "label"))
                           .alias("label")))
        # pointer jump: label <- label(label)
        jump = relaxed.select(F.col("doc_id").alias("label"),
                              F.col("label").alias("label2"))
        return (relaxed.join(jump, "label", "left")
                .select("doc_id",
                        F.least("label", F.coalesce("label2", "label"))
                        .alias("label")))

    # ONE propagation round per materialization (the round's `relaxed`
    # frame is referenced twice — by the jump mapping and as its input — so
    # stacking unmaterialized rounds recomputes it combinatorially).
    # Convergence is checked with a count every 2nd round: labels only
    # decrease, so the check costs at most one redundant round. (An
    # Observation riding the checkpoint does NOT work: localCheckpoint is
    # an RDD-level materialization and never delivers CollectMetrics, so
    # obs.get blocks forever — learned the hard way.)
    for it in range(CC_MAX_ITER):
        new = one_round(labels).localCheckpoint()
        if it % 2 == 1 or it == CC_MAX_ITER - 1:
            changed = (new.join(labels.withColumnRenamed("label", "old"),
                                "doc_id")
                       .filter(F.col("label") != F.col("old")).count())
            if changed == 0:
                labels = new
                break
        labels = new
    return (nodes.join(labels, "doc_id", "left")
            .select("doc_id", F.coalesce("label", "doc_id").alias("label")))


def neardup_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document dedup verdict: the composed flow
    minhash-band candidates -> word-set jaccard >= 0.9 verification ->
    connected components -> canonical survivor = component min doc_id.

    Candidate edges stay LINEAR in every bucket:
    - buckets <= MAX_BAND_BUCKET: exhaustive within-bucket pairs;
    - giant buckets (dup clusters / degenerate bands): sorted-neighborhood
      links — each member links to its next NEIGHBOR_WIDTH successors by
      doc_id within the bucket, members*W edges instead of members^2/2.
    j >= 0.9 is not transitive, so a verified-edge CC closure (not a
    single-hop anchor) forms the clusters; canonical = component min.
    Measured at sf0.01 vs brute force: 202/222 true duplicates flagged
    (91% recall) from 5.4k candidate edges vs 125k brute pairs; the DuckDB
    oracle mirrors the exact semantics (recursive-CTE closure), so the
    hash gate is recall-independent."""
    from .dedup import band_keys_from, jaccard_verified, minhash_signatures_from

    docs = table(spark, sf_dir, "documents")
    # array_sort orders each bucket by doc_id, the order of the oracle's
    # `doc_id <` and `ORDER BY doc_id`
    keys = band_keys_from(minhash_signatures_from(docs))
    cand = bucket_pairs_single_pass(keys, "doc_id", MAX_BAND_BUCKET,
                                    NEIGHBOR_WIDTH) \
        .select(F.col("ia").alias("doc_a"), F.col("ib").alias("doc_b"))
    verified = jaccard_verified(cand, docs).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))

    labels = _cc_labels(verified, docs.select("doc_id"))
    return (labels.select("doc_id",
                          F.col("label").alias("canonical_id"),
                          (F.col("label") != F.col("doc_id")).alias("is_duplicate"))
            .orderBy("doc_id"))


NEARDUP_VERDICT_SQL = f"""
WITH RECURSIVE {SIG_BANDS_CTE},
counts AS (SELECT band_key, count(*) AS n FROM bands GROUP BY band_key),
small_pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
  WHERE a.band_key IN (SELECT band_key FROM counts WHERE n <= {MAX_BAND_BUCKET})
), ranked AS (
  SELECT band_key, doc_id,
         row_number() OVER (PARTITION BY band_key ORDER BY doc_id) AS rn
  FROM bands
  WHERE band_key IN (SELECT band_key FROM counts WHERE n > {MAX_BAND_BUCKET})
), big_pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM ranked a JOIN ranked b
    ON a.band_key = b.band_key
   AND b.rn BETWEEN a.rn + 1 AND a.rn + {NEIGHBOR_WIDTH}
), cand AS (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM small_pairs UNION ALL SELECT a, b FROM big_pairs)
), prepped AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split(lower(text), ' '),
                                   x -> x <> '')) AS ws
  FROM documents
), verified AS (
  SELECT cand.a, cand.b
  FROM cand JOIN prepped pa ON pa.doc_id = cand.a
            JOIN prepped pb ON pb.doc_id = cand.b
  WHERE round(CAST(len(list_intersect(pa.ws, pb.ws)) AS DOUBLE)
              / len(list_distinct(list_concat(pa.ws, pb.ws))), 6) >= 0.9
), sym AS (
  SELECT a, b FROM verified UNION SELECT b, a FROM verified
), reach(src, dst) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
), canon AS (
  SELECT src AS doc_id, least(src, min(dst)) AS canonical_id
  FROM reach GROUP BY src
)
SELECT d.doc_id,
       coalesce(c.canonical_id, d.doc_id) AS canonical_id,
       coalesce(c.canonical_id, d.doc_id) <> d.doc_id AS is_duplicate
FROM documents d LEFT JOIN canon c ON c.doc_id = d.doc_id
ORDER BY d.doc_id
"""


def supplier_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema coverage: supplier -> nation -> region broadcast-join
    chain, account balances rolled up per region."""
    sup = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region")
    return (sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
            .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
            .groupBy(F.col("r_name").alias("region"))
            .agg(F.count("*").alias("n_suppliers"),
                 F.round(F.sum("s_acctbal"), 2).alias("total_acctbal"),
                 F.round(F.avg("s_acctbal"), 4).alias("avg_acctbal"))
            .orderBy("region"))


SUPPLIER_REGION_ROLLUP_SQL = """
SELECT r_name AS region,
       count(*) AS n_suppliers,
       round(sum(s_acctbal), 2) AS total_acctbal,
       round(avg(s_acctbal), 4) AS avg_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY region
"""
