"""Text-analysis operators over the `documents` table — all pure Catalyst
expressions (whole-stage codegen, no Python in the hot path), each
oracle-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import table

# --- K7 quality filter (fuse.py:110-171 dataset-level shape) -----------------


def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop empty-ish / low-quality documents: the relational form of the
    post-fusion quality filter (reference kie/fuse.py:110-171 — drop empty,
    drop low-value rows by predicate). Pure WHERE clause: Catalyst pushes it
    into the parquet scan."""
    docs = table(spark, sf_dir, "documents")
    return (docs
            .filter(F.length(F.trim(F.col("text"))) > 0)
            .filter(F.col("n_chars") >= 150)
            .filter(F.col("lang").isin("en", "de", "fr", "es", "zh"))
            .select("doc_id", "lang", "n_chars")
            .orderBy("doc_id"))


QUALITY_FILTER_SQL = """
SELECT doc_id, lang, n_chars
FROM documents
WHERE length(trim(text)) > 0
  AND n_chars >= 150
  AND lang IN ('en','de','fr','es','zh')
ORDER BY doc_id
"""

# --- language ID (stopword probes, expression form) -------------------------

_LANG_PROBES = {
    "en": " the ",
    "de": " der ",
    "fr": " les ",
    "es": " los ",
}


def _count_occurrences(col, probe: str):
    # plain (non-regex) replace, same as the DuckDB oracle's replace()
    return ((F.length(col) - F.length(F.replace(col, F.lit(probe), F.lit(""))))
            / len(probe)).cast("int")


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-probe language guess as integer expression math (identical
    arithmetic in DuckDB: (length(x)-length(replace(x,p,'')))/len(p))."""
    docs = table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    scored = docs.select(
        "doc_id",
        *[_count_occurrences(padded, probe).alias(f"score_{lang}")
          for lang, probe in _LANG_PROBES.items()],
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in _LANG_PROBES])
    guess = F.when(best == 0, "und")
    for lang in _LANG_PROBES:  # fixed priority order en, de, fr, es
        guess = guess.when(F.col(f"score_{lang}") == best, lang)
    return (scored.withColumn("guessed_lang", guess)
            .select("doc_id", "score_en", "score_de", "score_fr", "score_es",
                    "guessed_lang")
            .orderBy("doc_id"))


LANG_ID_SQL = """
WITH scored AS (
  SELECT doc_id,
    CAST((length(p)-length(replace(p,' the ','')))/5 AS INT) AS score_en,
    CAST((length(p)-length(replace(p,' der ','')))/5 AS INT) AS score_de,
    CAST((length(p)-length(replace(p,' les ','')))/5 AS INT) AS score_fr,
    CAST((length(p)-length(replace(p,' los ','')))/5 AS INT) AS score_es
  FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents)
)
SELECT doc_id, score_en, score_de, score_fr, score_es,
  CASE WHEN greatest(score_en,score_de,score_fr,score_es) = 0 THEN 'und'
       WHEN score_en = greatest(score_en,score_de,score_fr,score_es) THEN 'en'
       WHEN score_de = greatest(score_en,score_de,score_fr,score_es) THEN 'de'
       WHEN score_fr = greatest(score_en,score_de,score_fr,score_es) THEN 'fr'
       ELSE 'es' END AS guessed_lang
FROM scored
ORDER BY doc_id
"""

# --- token counting -----------------------------------------------------------


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + char count per document (built-in array
    functions; the UDF-free twin of arrow_ops.token_count_arrow)."""
    docs = table(spark, sf_dir, "documents")
    tokens = F.filter(F.split(F.trim(F.col("text")), " "), lambda x: x != "")
    return (docs.select(
        "doc_id",
        F.size(tokens).alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
    ).orderBy("doc_id"))


TOKEN_COUNT_SQL = """
SELECT doc_id,
  CAST(len(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS INT)
    AS n_tokens,
  CAST(length(text) AS INT) AS n_chars_actual
FROM documents
ORDER BY doc_id
"""

# --- fingerprinting -------------------------------------------------------------


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint md5(lower(text)). md5, not the reference cache's
    sha256 (azure/response_cache.py:66-91), because both Spark and DuckDB
    expose md5() as a built-in, so the oracle is exact."""
    docs = table(spark, sf_dir, "documents")
    return (docs.select(
        "doc_id",
        F.md5(F.lower(F.col("text"))).alias("fp"),
    ).orderBy("doc_id"))


FINGERPRINT_SQL = """
SELECT doc_id, md5(lower(text)) AS fp
FROM documents
ORDER BY doc_id
"""

# --- quality scoring buckets (K6-style CASE) -----------------------------------


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/stopword quality bucketing — good/fair/poor buckets like the
    reference's readability assessment (preprocess/enhance.py:311-365:
    issue count -> bucket)."""
    docs = table(spark, sf_dir, "documents")
    tokens = F.filter(F.split(F.trim(F.col("text")), " "), lambda x: x != "")
    n_tokens = F.size(tokens)
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    n_the = _count_occurrences(padded, " the ")
    issues = (F.when(n_tokens < 20, 1).otherwise(0)
              + F.when(n_the == 0, 1).otherwise(0)
              + F.when(F.col("n_chars") < 100, 1).otherwise(0))
    bucket = (F.when(issues == 0, "good")
              .when(issues == 1, "fair").otherwise("poor"))
    return (docs.select("doc_id", n_tokens.alias("n_tokens"),
                        issues.alias("n_issues"), bucket.alias("bucket"))
            .orderBy("doc_id"))


QUALITY_SCORE_SQL = """
WITH s AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split(trim(text),' '), x -> x <> '')) AS INT)
      AS n_tokens,
    CAST((length(' '||lower(text)||' ')
          - length(replace(' '||lower(text)||' ',' the ','')))/5 AS INT)
      AS n_the,
    n_chars
  FROM documents
)
SELECT doc_id, n_tokens,
  CAST((CASE WHEN n_tokens < 20 THEN 1 ELSE 0 END)
     + (CASE WHEN n_the = 0 THEN 1 ELSE 0 END)
     + (CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS INT) AS n_issues,
  CASE CAST((CASE WHEN n_tokens < 20 THEN 1 ELSE 0 END)
     + (CASE WHEN n_the = 0 THEN 1 ELSE 0 END)
     + (CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS INT)
    WHEN 0 THEN 'good' WHEN 1 THEN 'fair' ELSE 'poor' END AS bucket
FROM s
ORDER BY doc_id
"""
