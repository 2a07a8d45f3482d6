"""Further SURVEY §2 operator surfaces: conditional recompute (O6),
interval merge (D8), style estimation (R5), cost rollup (C2), and the
dispatch-routing shape (O2/K11)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import table

# --- O6: confidence-gated recompute ------------------------------------------------

REROUTE_BELOW = 0.60  # thresholds.reroute_to_tesseract_below (config.py:157)


def o6_conf_reroute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`CASE WHEN conf < t THEN recompute ELSE keep END` — the Tesseract
    backup reroute (orchestrator.py:1140-1176) as an expression: recompute
    only when it improves (replace iff alt_conf > conf)."""
    docs = table(spark, sf_dir, "documents")
    conf = (F.col("n_chars") % 100) / 100.0
    alt_conf = F.round(F.least(conf + 0.25, F.lit(1.0)), 6)
    rerouted = conf < REROUTE_BELOW
    improved = rerouted & (alt_conf > conf)
    return (docs.select(
        "doc_id",
        F.round(conf, 6).alias("conf"),
        F.when(improved, alt_conf).otherwise(F.round(conf, 6)).alias("final_conf"),
        rerouted.alias("rerouted"),
        improved.alias("replaced"))
        .orderBy("doc_id"))


O6_CONF_REROUTE_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         (n_chars % 100) / 100.0 AS conf,
         round(least((n_chars % 100) / 100.0 + 0.25, 1.0), 6) AS alt_conf
  FROM documents
)
SELECT doc_id, round(conf, 6) AS conf,
       CASE WHEN conf < {REROUTE_BELOW} AND alt_conf > conf
            THEN alt_conf ELSE round(conf, 6) END AS final_conf,
       conf < {REROUTE_BELOW} AS rerouted,
       (conf < {REROUTE_BELOW} AND alt_conf > conf) AS replaced
FROM scored
ORDER BY doc_id
"""

# --- D8: 1-D interval merge (box-merge as lag+cumsum) -------------------------------

INTERVAL_LEN = 20.0


def d8_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word-box -> line merge (text_craft.py:219-273: merge horizontally
    adjacent boxes) reduced to its 1-D core: per user, intervals
    [value, value+20] merge when they overlap the running maximum end —
    lag/max window + cumulative new-group flags, the same sessionization
    skeleton as D13 but on ranges, not gaps."""
    ev = table(spark, sf_dir, "events")
    iv = ev.select("user_id", "event_id",
                   F.round("value", 6).alias("lo"),
                   F.round(F.col("value") + INTERVAL_LEN, 6).alias("hi"))
    w = Window.partitionBy("user_id").orderBy("lo", "event_id")
    running_max_hi = F.max("hi").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    new_group = F.when(running_max_hi.isNull()
                       | (F.col("lo") > running_max_hi), 1).otherwise(0)
    grouped = (iv.withColumn("is_new", new_group)
               .withColumn("grp", F.sum("is_new").over(
                   w.rowsBetween(Window.unboundedPreceding, 0))))
    return (grouped.groupBy("user_id", "grp")
            .agg(F.min("lo").alias("merged_lo"),
                 F.max("hi").alias("merged_hi"),
                 F.count("*").alias("n_boxes"))
            .orderBy("user_id", "grp"))


D8_INTERVAL_MERGE_SQL = f"""
WITH iv AS (
  SELECT user_id, event_id,
         round(value, 6) AS lo, round(value + {INTERVAL_LEN}, 6) AS hi
  FROM events
), flagged AS (
  SELECT user_id, event_id, lo, hi,
         CASE WHEN max(hi) OVER (PARTITION BY user_id ORDER BY lo, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
              OR lo > max(hi) OVER (PARTITION BY user_id ORDER BY lo, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS is_new
  FROM iv
), grouped AS (
  SELECT user_id, lo, hi,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY lo, event_id
                           ROWS UNBOUNDED PRECEDING) AS grp
  FROM flagged
)
SELECT user_id, CAST(grp AS BIGINT) AS grp,
       min(lo) AS merged_lo, max(hi) AS merged_hi, count(*) AS n_boxes
FROM grouped
GROUP BY user_id, grp
ORDER BY user_id, grp
"""

# --- R5: style estimation --------------------------------------------------------------


def r5_style_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Style estimator (extract/pdf_style_extractor.py:192-258):
    font_size ~= 0.75 * bbox_height clamped to [6, 72]; bold if the text is
    ALL-CAPS; role 'title' when near-top and size > 14. Substrate: part
    rows with height = p_size * 2, text = p_name, rel_y from p_partkey."""
    part = table(spark, sf_dir, "part")
    height = F.col("p_size") * 2.0
    font_size = F.round(F.least(F.greatest(height * 0.75, F.lit(6.0)),
                                F.lit(72.0)), 2)
    is_caps = F.col("p_name") == F.upper(F.col("p_name"))
    rel_y = (F.col("p_partkey") % 10) / 10.0
    role = F.when((rel_y < 0.15) & (font_size > 14), "title").otherwise("body")
    return (part.select("p_partkey", font_size.alias("font_size"),
                        is_caps.alias("bold"), role.alias("role"))
            .orderBy("p_partkey"))


R5_STYLE_ESTIMATE_SQL = """
WITH s AS (
  SELECT p_partkey,
         round(least(greatest(p_size * 2.0 * 0.75, 6.0), 72.0), 2) AS font_size,
         p_name = upper(p_name) AS bold,
         (p_partkey % 10) / 10.0 AS rel_y
  FROM part
)
SELECT p_partkey, font_size, bold,
       CASE WHEN rel_y < 0.15 AND font_size > 14 THEN 'title' ELSE 'body' END AS role
FROM s
ORDER BY p_partkey
"""

# --- C2: cost tracker rollup --------------------------------------------------------------


def c2_cost_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost tracker per-service breakdown (azure/cost_tracker.py:97-336:
    totals + per-service records): per event_type, calls, total/avg value,
    plus a grand-total row via ROLLUP."""
    ev = table(spark, sf_dir, "events")
    return (ev.rollup("event_type")
            .agg(F.count("*").alias("n_calls"),
                 F.round(F.sum("value"), 2).alias("total_value"),
                 F.round(F.avg("value"), 4).alias("avg_value"))
            .select(F.coalesce("event_type", F.lit("TOTAL")).alias("service"),
                    "n_calls", "total_value", "avg_value")
            .orderBy("service"))


C2_COST_ROLLUP_SQL = """
SELECT coalesce(event_type, 'TOTAL') AS service,
       count(*) AS n_calls,
       round(sum(value), 2) AS total_value,
       round(avg(value), 4) AS avg_value
FROM events
GROUP BY ROLLUP (event_type)
ORDER BY service
"""

# --- O2/K11: routing dispatch -----------------------------------------------------------


def o2_route_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model routing by a cheap classifier (orchestrator.py:370-409 +
    trocr.py:168-291 printed/handwritten split): dispatch column via CASE,
    then per-route batch statistics — the relational skeleton of routed
    batched inference."""
    docs = table(spark, sf_dir, "documents")
    route = (F.when(F.col("lang") == "en", "model_en")
             .when(F.col("n_chars") >= 500, "model_large")
             .otherwise("model_multilingual"))
    return (docs.withColumn("route", route)
            .groupBy("route")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("n_chars"), 4).alias("avg_chars"),
                 F.min("doc_id").alias("first_doc"))
            .orderBy("route"))


O2_ROUTE_DISPATCH_SQL = """
WITH routed AS (
  SELECT doc_id, n_chars,
    CASE WHEN lang = 'en' THEN 'model_en'
         WHEN n_chars >= 500 THEN 'model_large'
         ELSE 'model_multilingual' END AS route
  FROM documents
)
SELECT route, count(*) AS n_docs,
       round(avg(n_chars), 4) AS avg_chars,
       min(doc_id) AS first_doc
FROM routed
GROUP BY route
ORDER BY route
"""

# --- K4: BIO run grouping as window algebra -----------------------------------------


def k4_bio_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIO entity grouping (kie/layoutlmv3_runner.py:300-367) dataset-level:
    synthesize a deterministic BIO tag stream over events (ordered by
    event_id), group B-/I- runs via a cumulative-starts window, and emit one
    field per entity with joined words + mean confidence — the lag/cumsum
    run-grouping SURVEY §2.5 K4 names.

    Tag pattern (event_id % 7): 0 B-AMOUNT, 1-2 I-AMOUNT, 3 B-DATE,
    4 I-DATE, 5-6 O — orphan-free by construction so the relational form
    matches the kernel state machine exactly.
    """
    ev = table(spark, sf_dir, "events")
    tag = (F.when(F.col("event_id") % 7 == 0, "B-AMOUNT")
           .when(F.col("event_id") % 7 <= 2, "I-AMOUNT")
           .when(F.col("event_id") % 7 == 3, "B-DATE")
           .when(F.col("event_id") % 7 == 4, "I-DATE")
           .otherwise("O"))
    tokens = ev.select("event_id", F.col("event_type").alias("word"),
                       F.round(F.col("value") / 500.0, 6).alias("conf"),
                       tag.alias("tag"))
    # ORACLE-DETERMINISM SHAPE, not the scale shape: a global unpartitioned
    # window moves all rows to one partition. The production path is the
    # per-document state machine inside the kernel (kernel/bio.py); at
    # dataset scale partition this window by a doc key (same caveat as
    # sessionize.reading_order_sort).
    w = Window.orderBy("event_id")
    runs = (tokens
            .withColumn("is_start",
                        F.when(F.col("tag").startswith("B-"), 1).otherwise(0))
            .withColumn("run_id", F.sum("is_start").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .filter(F.col("tag") != "O"))
    entity = F.substring(F.col("tag"), 3, 100)
    # entity text MUST be in token (event_id) order — the oracle says
    # string_agg(word, ' ' ORDER BY event_id). A bare collect_list only
    # *happens* to see sorted rows while the object-hash aggregate stays
    # in hash mode; past the sort-based fallback threshold the radix sort
    # on run_id is not stable and the word order scrambles (observed at
    # sf0.001/sf0.1; sf0.01 was green by luck). Sorting (event_id, word)
    # structs inside the aggregate pins the order at every scale.
    ordered_words = F.transform(
        F.array_sort(F.collect_list(F.struct("event_id", "word"))),
        lambda s: s["word"])
    grouped = (runs.withColumn("entity", entity)
               .groupBy("run_id")
               .agg(F.min("entity").alias("entity"),
                    F.concat_ws(" ", ordered_words).alias("value"),
                    F.round(F.avg("conf"), 6).alias("confidence"),
                    F.count("*").alias("n_tokens")))
    data_type = (F.when(F.col("entity").isin("AMOUNT", "TOTAL", "TAX"), "currency")
                 .when(F.col("entity") == "DATE", "date").otherwise("string"))
    status = (F.when(F.col("confidence") >= 0.8, "confident")
              .when(F.col("confidence") >= 0.5, "single_source")
              .otherwise("uncertain"))
    return (grouped.select(F.col("run_id").cast("long").alias("run_id"),
                           F.lower(F.col("entity")).alias("name"),
                           "value", "confidence", "n_tokens",
                           data_type.alias("data_type"), status.alias("status"))
            .orderBy("run_id"))


K4_BIO_GROUPING_SQL = """
WITH tokens AS (
  SELECT event_id, event_type AS word, round(value / 500.0, 6) AS conf,
    CASE WHEN event_id % 7 = 0 THEN 'B-AMOUNT'
         WHEN event_id % 7 <= 2 THEN 'I-AMOUNT'
         WHEN event_id % 7 = 3 THEN 'B-DATE'
         WHEN event_id % 7 = 4 THEN 'I-DATE'
         ELSE 'O' END AS tag
  FROM events
), runs AS (
  SELECT event_id, word, conf, tag,
         sum(CASE WHEN tag LIKE 'B-%' THEN 1 ELSE 0 END)
           OVER (ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS run_id
  FROM tokens
), grouped AS (
  SELECT run_id, min(substr(tag, 3)) AS entity,
         string_agg(word, ' ' ORDER BY event_id) AS value,
         round(avg(conf), 6) AS confidence,
         count(*) AS n_tokens
  FROM runs WHERE tag <> 'O'
  GROUP BY run_id
)
SELECT CAST(run_id AS BIGINT) AS run_id, lower(entity) AS name, value,
       confidence, n_tokens,
       CASE WHEN entity IN ('AMOUNT','TOTAL','TAX') THEN 'currency'
            WHEN entity = 'DATE' THEN 'date' ELSE 'string' END AS data_type,
       CASE WHEN confidence >= 0.8 THEN 'confident'
            WHEN confidence >= 0.5 THEN 'single_source'
            ELSE 'uncertain' END AS status
FROM grouped
ORDER BY run_id
"""


def s3_exif_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 EXIF orientation algebra in dataset form: orientations 5-8
    transpose the displayed frame (kernel/multimodal.EXIF_ORIENTATION_OPS;
    reference io/image.py:100-148), 2/4/5/7 mirror it. Synthesized stored
    dims per customer; output = displayed dims + the mirrored flag — the
    dataset-observable contract of the orientation table."""
    cust = table(spark, sf_dir, "customer")
    orientation = (F.col("c_custkey") % 8 + 1).cast("int")
    w0 = (F.lit(320) + (F.col("c_custkey") % 5) * 64).cast("int")
    h0 = (F.lit(240) + (F.col("c_custkey") % 3) * 80).cast("int")
    transposed = orientation >= 5
    mirrored = orientation.isin(2, 4, 5, 7)
    return (cust.select(
        "c_custkey", orientation.alias("orientation"),
        w0.alias("stored_w"), h0.alias("stored_h"),
        F.when(transposed, h0).otherwise(w0).alias("disp_w"),
        F.when(transposed, w0).otherwise(h0).alias("disp_h"),
        mirrored.alias("mirrored"))
        .orderBy("c_custkey"))


S3_EXIF_DIMS_SQL = """
WITH base AS (
  SELECT c_custkey,
         CAST(c_custkey % 8 + 1 AS INT) AS orientation,
         CAST(320 + (c_custkey % 5) * 64 AS INT) AS stored_w,
         CAST(240 + (c_custkey % 3) * 80 AS INT) AS stored_h
  FROM customer
)
SELECT c_custkey, orientation, stored_w, stored_h,
       CASE WHEN orientation >= 5 THEN stored_h ELSE stored_w END AS disp_w,
       CASE WHEN orientation >= 5 THEN stored_w ELSE stored_h END AS disp_h,
       orientation IN (2, 4, 5, 7) AS mirrored
FROM base
ORDER BY c_custkey
"""


# Same dispatch boundary the pipeline actually runs (document.SCANNED_CHAR_GATE,
# mirroring the reference's pdf_style_extractor.py:67-98 chars<=100 gate).
from ..kernel.document import SCANNED_CHAR_GATE as SCANNED_GATE_CHARS  # noqa: E402


def s1_scanned_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scanned-PDF routing gate as a dataset operator
    (pdf_style_extractor.py:67-98: chars <= threshold -> raster/OCR path):
    per-route document counts + char stats — the dispatch + rollup the
    batch driver runs to size the expensive OCR stage before launching it."""
    docs = table(spark, sf_dir, "documents")
    route = (F.when(F.length("text") <= SCANNED_GATE_CHARS, "ocr_path")
             .otherwise("native_path"))
    return (docs.select(route.alias("route"),
                        F.length("text").alias("n_chars"))
            .groupBy("route")
            .agg(F.count("*").alias("n_docs"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars"),
                 F.round(F.avg("n_chars"), 4).alias("avg_chars"))
            .orderBy("route"))


S1_SCANNED_GATE_SQL = f"""
SELECT CASE WHEN length(text) <= {SCANNED_GATE_CHARS}
            THEN 'ocr_path' ELSE 'native_path' END AS route,
       count(*) AS n_docs,
       min(length(text)) AS min_chars,
       max(length(text)) AS max_chars,
       round(avg(length(text)), 4) AS avg_chars
FROM documents
GROUP BY 1
ORDER BY route
"""


from ..kernel.config import Thresholds  # noqa: E402

IMAGE_TEXT_GATE = Thresholds.image_text_gate


def s3_scanned_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standalone-image OCR acceptance gate as a dataset operator
    (kernel.config thresholds.image_text_gate; reference behavior: every
    image file goes through the page OCR loop, io/image.py:49-79 ->
    orchestrator.py:455-513, and only confident recognition yields text).
    Each document carries a deterministic md5-derived recognition
    confidence on the recognizer's scale ([0.5, 1.0); garbage ~0.7, clean
    >= 0.95); rows at/above the gate route to 'ocr_text' (the scan is
    believed to be a document), the rest stay 'picture'. Per-route rollup —
    the dispatch census the batch driver uses to size the OCR stage."""
    docs = table(spark, sf_dir, "documents")
    conf = F.round(
        F.lit(0.5)
        + (F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
           % 4096) / F.lit(8192.0), 4)
    route = (F.when(conf >= IMAGE_TEXT_GATE, "ocr_text")
             .otherwise("picture"))
    return (docs.select(route.alias("route"), conf.alias("conf"))
            .groupBy("route")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.min("conf"), 4).alias("min_conf"),
                 F.round(F.max("conf"), 4).alias("max_conf"),
                 F.round(F.avg("conf"), 4).alias("avg_conf"))
            .orderBy("route"))


S3_SCANNED_IMAGE_SQL = f"""
WITH scored AS (
  SELECT round(0.5 + (('0x' || substr(md5(text), 1, 8))::BIGINT % 4096)
               / 8192.0, 4) AS conf
  FROM documents
)
SELECT CASE WHEN conf >= {IMAGE_TEXT_GATE} THEN 'ocr_text'
            ELSE 'picture' END AS route,
       count(*) AS n_docs,
       round(min(conf), 4) AS min_conf,
       round(max(conf), 4) AS max_conf,
       round(avg(conf), 4) AS avg_conf
FROM scored
GROUP BY 1
ORDER BY route
"""
