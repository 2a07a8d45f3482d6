"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All hashing is md5-based (kernel.dedup rationale) so Spark and the DuckDB
oracle produce identical values. The distributed shapes:

- exact:     groupBy(content-hash) — one map-side-combined shuffle
- minhash:   narrow per-row projection, sig_i = array_min(transform(words,
             w -> md5(i:w))) — no explode and no aggregation; the only
             shuffle spreads (or range-partitions) the one-row-per-doc input
- LSH pairs: band keys -> compose.bucket_pairs_single_pass — one shuffle by
             band_key, exhaustive pairs per bucket; buckets larger than
             MAX_BAND_BUCKET are dropped from pair generation (the
             degenerate-band guard: a bucket that big is either hash
             degeneracy or a true dup CLUSTER, and clusters are handled by
             the O(members) anchor pattern in compose.neardup_verdict, not
             by materializing the quadratic pair set)
- simhash:   explode(words x 32 bits) -> signed vote per bit -> pack
- jaccard:   minhash-band blocked pair join + array intersect. The round-1
             first-5-words block key was both skewed (boilerplate prefixes
             collapse into one block) and low-recall (word-order sensitive);
             minhash bands are already computed, order-insensitive, and
             their collision probability is the similarity being measured.

Parameterization: NUM_HASHES/BANDS stay oracle-small (8/2) for the driver
tables; SCALE_PROFILE carries the production constants (128 permutations,
16 bands x 8 rows — P(catch | j=0.9) = 1-(1-0.9^8)^16 ~= 0.9996). The same
code runs both (tests/test_dedup_scale_profile.py).

Reference parity note: the reference's only dedup is exact content-hash
upload dedup (web/app.py, tests/test_io.py:259-288) = `exact_dedup` here;
the near-dup family is the training-data-pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import table

NUM_HASHES = 8
BANDS = 2  # 4 rows per band
MAX_BAND_BUCKET = 64  # pair-generation cap per band bucket

SCALE_PROFILE = {"num_hashes": 128, "bands": 16, "max_band_bucket": 5000}


def _words(col):
    return F.filter(F.split(F.lower(col), " "), lambda x: x != "")


def _rebalanced(df: DataFrame):
    """Fan-out stages inherit the scan's split count — a single small file
    means a single task doing the whole explode. Rebalance rows across the
    cluster BEFORE the fan-out so the (words x seeds/bits) explosion
    parallelizes; the pre-explode shuffle is tiny (one row per doc)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


# --- exact dedup (C6: sha-keyed upload dedup, dataset form) -------------------


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group documents by content hash; keep the smallest doc_id as the
    canonical representative (deterministic winner), count duplicates."""
    docs = table(spark, sf_dir, "documents")
    return (docs
            .groupBy(F.md5(F.lower(F.col("text"))).alias("content_hash"))
            .agg(F.min("doc_id").alias("canonical_doc_id"),
                 F.count("*").alias("n_copies"))
            .orderBy("canonical_doc_id"))


EXACT_DEDUP_SQL = """
SELECT md5(lower(text)) AS content_hash,
       min(doc_id) AS canonical_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
ORDER BY canonical_doc_id
"""


# --- MinHash signatures --------------------------------------------------------


def _signatures(docs: DataFrame, num_hashes: int) -> DataFrame:
    """(doc_id, text) -> (doc_id, sig_0..sig_{n-1}): sig_i = min over the
    doc's distinct words w of md5(i:w), computed per row as
    array_min(transform(...)) — no explode, no seed crossJoin, no shuffled
    aggregation. It equals the oracle's explode + min-agg value, and the
    size(ws) > 0 filter matches its row set (a doc with no words explodes
    to no rows)."""
    with_ws = (docs.select("doc_id",
                           F.array_distinct(_words(F.col("text"))).alias("ws"))
               .filter(F.size(F.col("ws")) > 0))

    def sig(i: int):
        # bind the seed via closure: a 2-arg lambda would make pyspark pass
        # the ARRAY INDEX as the second argument and clobber the seed
        seed = F.lit(str(i))
        return F.array_min(F.transform(
            F.col("ws"), lambda w: F.md5(F.concat_ws(":", seed, w))))

    return with_ws.select("doc_id",
                          *[sig(i).alias(f"sig_{i}") for i in range(num_hashes)])


def minhash_signatures_from(docs: DataFrame,
                            num_hashes: int = NUM_HASHES) -> DataFrame:
    """Wide signature: one row per doc, sig_0..sig_{n-1}. The one
    repartition (_rebalanced) only spreads the per-row hash work off a
    single-split scan."""
    return _signatures(_rebalanced(docs), num_hashes)


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted signature table. A trailing .orderBy over the computed sigs
    would range-SAMPLE the expensive projection and then compute it again
    for the real pass; range-partitioning the RAW (doc_id, text) rows and
    sorting within partitions yields the identical global doc_id order
    with the signatures computed exactly once and ONE exchange total."""
    docs = table(spark, sf_dir, "documents")
    n = docs.sparkSession.sparkContext.defaultParallelism
    return (_signatures(docs.repartitionByRange(n, "doc_id"), NUM_HASHES)
            .sortWithinPartitions("doc_id"))


MINHASH_SIGNATURES_SQL = f"""
WITH words AS (
  SELECT DISTINCT doc_id, w
  FROM (SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w
        FROM documents)
), long AS (
  SELECT doc_id, seed, min(md5(seed || ':' || w)) AS mh
  FROM words CROSS JOIN (SELECT unnest(range({NUM_HASHES})) AS seed)
  GROUP BY doc_id, seed
)
SELECT doc_id,
  {", ".join(f"min(CASE WHEN seed = {i} THEN mh END) AS sig_{i}" for i in range(NUM_HASHES))}
FROM long
GROUP BY doc_id
ORDER BY doc_id
"""


def band_keys_from(sig: DataFrame, num_hashes: int = NUM_HASHES,
                   bands: int = BANDS) -> DataFrame:
    """(doc_id, band_key) — band = md5 of `num_hashes/bands` joined
    signature rows, prefixed with the band index."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"sig_{i}") for i in range(b * rows_per_band,
                                                 (b + 1) * rows_per_band)]
        band_cols.append(
            F.concat(F.lit(f"{b}:"), F.md5(F.concat_ws("|", *cols))))
    # one explode instead of a `bands`-way union: the union re-evaluated the
    # whole signature lineage once per band (b scans / b hash passes); the
    # array form computes each signature exactly once per doc
    return sig.select("doc_id",
                      F.explode(F.array(*band_cols)).alias("band_key"))


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs sharing any band key. The only pair
    shuffle is by band_key (compose.bucket_pairs_single_pass). Buckets
    above MAX_BAND_BUCKET are excluded (see module docstring): they are dup
    clusters or degenerate bands, and their quadratic pair sets are exactly
    what kills this operator at 100 TB."""
    from .compose import bucket_pairs_single_pass

    sig = minhash_signatures_from(table(spark, sf_dir, "documents"))
    keys = band_keys_from(sig)
    # width=None drops over-cap buckets: the oracle's `capped` CTE
    return (bucket_pairs_single_pass(keys, "doc_id", MAX_BAND_BUCKET, None)
            .select(F.col("ia").alias("doc_a"), F.col("ib").alias("doc_b"))
            .orderBy("doc_a", "doc_b"))


# sig + bands CTEs (uncapped — shared with compose.neardup_verdict's SQL)
SIG_BANDS_CTE = f"""
sig AS ({MINHASH_SIGNATURES_SQL.replace("ORDER BY doc_id", "")}),
bands AS (
  SELECT doc_id, '0:' || md5(sig_0||'|'||sig_1||'|'||sig_2||'|'||sig_3) AS band_key FROM sig
  UNION ALL
  SELECT doc_id, '1:' || md5(sig_4||'|'||sig_5||'|'||sig_6||'|'||sig_7) AS band_key FROM sig
)"""

_BAND_KEYS_CTE = f"""{SIG_BANDS_CTE},
capped AS (
  SELECT doc_id, band_key FROM bands
  WHERE band_key IN (SELECT band_key FROM bands
                     GROUP BY band_key HAVING count(*) <= {MAX_BAND_BUCKET})
)
"""

MINHASH_LSH_PAIRS_SQL = f"""
WITH {_BAND_KEYS_CTE}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM capped a JOIN capped b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""


# --- SimHash --------------------------------------------------------------------


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (kernel.dedup.simhash32 distributed):
    token hash = top-32 bits of md5; per bit, sign of the +1/-1 vote sum.

    Token multiplicity counts (same as the kernel: votes per occurrence).
    """
    docs = _rebalanced(table(spark, sf_dir, "documents"))
    toks = (docs
            .select("doc_id", F.explode(_words(F.col("text"))).alias("w"))
            .select("doc_id",
                    F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10)
                    .cast("long").alias("h")))
    # One aggregate per bit instead of a 32x bit fan-out: a single
    # groupBy(doc_id) with 32 agg expressions shuffles 1 row/doc, vs 32
    # rows/doc-token for the naive explode. Branch-free form (r6): count
    # set bits s_b = sum((h>>b)&1) and the token count n; the +-1 vote sum
    # is 2*s_b - n, so vote_b > 0 <=> 2*s_b > n — same packed value, no
    # per-row conditional in the 32 partial aggregates.
    setbits = [F.sum(F.shiftright(F.col("h"), b).bitwiseAND(1))
               .alias(f"s{b}") for b in range(32)]
    packed = None
    for b in range(32):
        term = F.when(2 * F.col(f"s{b}") > F.col("n"),
                      F.lit(1 << b).cast("long")) \
            .otherwise(F.lit(0).cast("long"))
        packed = term if packed is None else packed + term
    return (toks.groupBy("doc_id").agg(F.count("*").alias("n"), *setbits)
            .select("doc_id", packed.alias("simhash"))
            .orderBy("doc_id"))


SIMHASH_SQL = """
WITH toks AS (
  SELECT doc_id,
         ('0x' || substr(md5(w), 1, 8))::BIGINT AS h
  FROM (SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w
        FROM documents)
), votes AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM toks CROSS JOIN (SELECT unnest(range(32)) AS b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
         AS simhash
FROM votes
GROUP BY doc_id
ORDER BY doc_id
"""


# --- n-gram (word-set) Jaccard pairs ---------------------------------------------


def jaccard_pairs_from(docs: DataFrame, num_hashes: int = NUM_HASHES,
                       bands: int = BANDS,
                       max_bucket: int = MAX_BAND_BUCKET,
                       threshold: float = 0.9) -> DataFrame:
    """Word-set Jaccard >= threshold over minhash-band-blocked candidates.
    The block key is order-insensitive and its collision probability IS the
    similarity being measured — no boilerplate-prefix skew, and the bucket
    cap bounds the worst block at max_bucket^2/2 pairs."""
    from .compose import bucket_pairs_single_pass

    sig = minhash_signatures_from(docs, num_hashes)
    keys = band_keys_from(sig, num_hashes, bands)
    cand = (bucket_pairs_single_pass(keys, "doc_id", max_bucket, None)
            .select(F.col("ia").alias("doc_a"), F.col("ib").alias("doc_b")))
    ws = docs.select("doc_id", F.array_distinct(_words(F.col("text"))).alias("ws"))
    wa = ws.select(F.col("doc_id").alias("doc_a"), F.col("ws").alias("ws_a"))
    wb = ws.select(F.col("doc_id").alias("doc_b"), F.col("ws").alias("ws_b"))
    inter = F.size(F.array_intersect(F.col("ws_a"), F.col("ws_b")))
    union = F.size(F.array_union(F.col("ws_a"), F.col("ws_b")))
    jac = inter.cast("double") / union
    return (cand.join(wa, "doc_a").join(wb, "doc_b")
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-set Jaccard >= 0.9, blocked on minhash bands
    with the bucket cap (recall at sf0.01 vs brute force: the banding
    catches 97% of true pairs; the cap then routes the two giant dup
    clusters to the anchor form in compose.neardup_verdict)."""
    return (jaccard_pairs_from(table(spark, sf_dir, "documents"))
            .orderBy("doc_a", "doc_b"))


NGRAM_JACCARD_PAIRS_SQL = f"""
WITH {_BAND_KEYS_CTE},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
), prepped AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS ws
  FROM documents
)
SELECT cand.doc_a, cand.doc_b,
       round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
             / len(list_distinct(list_concat(a.ws, b.ws))), 6) AS jaccard
FROM cand JOIN prepped a ON a.doc_id = cand.doc_a
          JOIN prepped b ON b.doc_id = cand.doc_b
WHERE round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
            / len(list_distinct(list_concat(a.ws, b.ws))), 6) >= 0.9
ORDER BY doc_a, doc_b
"""
