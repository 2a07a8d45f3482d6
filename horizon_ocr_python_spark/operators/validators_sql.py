"""Validators as Catalyst expressions (SURVEY §2.6: "pure scalar functions —
all SQL/UDF-expressible, ideal DuckDB-oracle targets").

Each mirrors a kernel validator on deterministic values derived from the
sf tables, so the oracle checks the exact predicate/normalization logic:

v1 amount roundtrip:   EU-format string -> parse -> double (validators.py:96-130)
v2 total check:        |total - sum(items)| <= 0.01 (validators.py:132-176)
v3 date normalize:     dd/MM/yyyy -> ISO via to_date (validators.py:191-212)
v4 currency:           symbol map + ISO-4217 membership (validators.py:294-344)
v5 regex:              invoice-number pattern (validators.py:354-361)
r3 font bins:          threshold bucketing (io/reconstruction.py:100-118)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernel.validators import CURRENCY_SYMBOL_MAP, VALID_CURRENCIES
from . import table


def v1_amount_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render each lineitem price as a European decimal-comma string, then
    parse it back with the V1 separator rules. parsed == original proves the
    disambiguation logic (validators.py:110-125) as pure expressions."""
    li = table(spark, sf_dir, "lineitem")
    eu_str = F.replace(F.format_string("%.2f", F.col("l_extendedprice")),
                       F.lit("."), F.lit(","))
    parsed = F.replace(F.col("amount_eu"), F.lit(","), F.lit(".")).cast("double")
    return (li.select("l_orderkey", "l_linenumber", eu_str.alias("amount_eu"))
            .withColumn("parsed", parsed)
            .withColumn("roundtrip_ok",
                        (F.abs(F.col("parsed")
                               - F.round(F.col("parsed"), 2)) < 1e-9))
            .orderBy("l_orderkey", "l_linenumber"))


V1_AMOUNT_ROUNDTRIP_SQL = """
WITH rendered AS (
  SELECT l_orderkey, l_linenumber,
         replace(printf('%.2f', l_extendedprice), '.', ',') AS amount_eu
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, amount_eu,
       CAST(replace(amount_eu, ',', '.') AS DOUBLE) AS parsed,
       abs(CAST(replace(amount_eu, ',', '.') AS DOUBLE)
           - round(CAST(replace(amount_eu, ',', '.') AS DOUBLE), 2)) < 1e-9
         AS roundtrip_ok
FROM rendered
ORDER BY l_orderkey, l_linenumber
"""


def v2_total_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-field total consistency at dataset scale: per order, does
    o_totalprice match the sum of line charges within tolerance? The exact
    V2 predicate |total - calculated| <= 0.01 (validators.py:153-155).

    Sums rounded to 2dp before comparison so the verdict is independent of
    floating-point summation order across engines."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    charges = (li.groupBy("l_orderkey")
               .agg(F.round(F.sum(F.col("l_extendedprice")
                                  * (1 - F.col("l_discount"))
                                  * (1 + F.col("l_tax"))), 2).alias("calculated")))
    return (orders.join(charges, orders.o_orderkey == charges.l_orderkey)
            .select(F.col("o_orderkey").alias("orderkey"),
                    F.round("o_totalprice", 2).alias("total"),
                    "calculated",
                    (F.abs(F.round(F.col("o_totalprice") - F.col("calculated"), 2))
                     <= 0.01).alias("passed"))
            .orderBy("orderkey"))


V2_TOTAL_CHECK_SQL = """
WITH charges AS (
  SELECT l_orderkey,
         round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
           AS calculated
  FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderkey AS orderkey, round(o_totalprice, 2) AS total, calculated,
       abs(round(o_totalprice - calculated, 2)) <= 0.01 AS passed
FROM orders JOIN charges ON o_orderkey = l_orderkey
ORDER BY orderkey
"""


def v3_date_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: event timestamps rendered as dd/MM/yyyy, parsed back with
    the multi-format coalesce (the expression form of the 18-format loop,
    validators.py:191-212), normalized to ISO."""
    ev = table(spark, sf_dir, "events")
    rendered = F.date_format(F.col("ts"), "dd/MM/yyyy")
    # try_to_date: ANSI-safe per-format attempt, exactly the reference's
    # try-next-format loop semantics (validators.py:262-279)
    parsed = F.coalesce(
        F.try_to_date(F.col("date_str"), "yyyy-MM-dd"),
        F.try_to_date(F.col("date_str"), "dd/MM/yyyy"),
        F.try_to_date(F.col("date_str"), "yyyy/MM/dd"),
    )
    return (ev.select("event_id", rendered.alias("date_str"))
            .withColumn("iso_date", F.date_format(parsed, "yyyy-MM-dd"))
            .orderBy("event_id"))


V3_DATE_NORMALIZE_SQL = """
WITH rendered AS (
  SELECT event_id, strftime(ts, '%d/%m/%Y') AS date_str FROM events
)
SELECT event_id, date_str,
       strftime(coalesce(
         try_strptime(date_str, '%Y-%m-%d'),
         try_strptime(date_str, '%d/%m/%Y'),
         try_strptime(date_str, '%Y/%m/%d')), '%Y-%m-%d') AS iso_date
FROM rendered
ORDER BY event_id
"""


_CURRENCY_CASES = [
    (0, "USD"), (1, "EUR"), (2, "XXX"), (3, "GBP"),
    (4, "usd"), (5, "$"), (6, "JPY"), (7, "ZZ"),
]
# the oracle's literal copy of kernel.validators.VALID_CURRENCIES
_VALID = ("USD", "EUR", "GBP", "JPY", "CAD", "AUD", "CHF", "CNY",
          "INR", "MXN", "BRL", "KRW", "SGD", "HKD", "NOK", "SEK",
          "DKK", "NZD", "ZAR", "RUB", "TRY", "PLN", "THB", "MYR",
          "IDR", "PHP", "CZK", "ILS", "CLP", "PKR", "AED", "SAR")


def normalize_currency_expr(col: Column) -> Column:
    """Currency symbol -> ISO code as a CASE WHEN tree over the kernel's
    CURRENCY_SYMBOL_MAP (validators.py:294-344)."""
    code = F.upper(F.trim(col))
    out = code
    for sym, iso in CURRENCY_SYMBOL_MAP.items():
        out = F.when(code == sym, iso).otherwise(out)
    return out


def currency_valid_expr(col: Column) -> Column:
    """ISO-4217 membership of the normalized code (VALID_CURRENCIES)."""
    return normalize_currency_expr(col).isin(*sorted(VALID_CURRENCIES))


def v4_currency_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symbol map + ISO-4217 membership over deterministic per-customer
    codes (validators.py:311-344), built from the two column expressions
    above over the kernel's currency tables."""
    cust = table(spark, sf_dir, "customer")
    code = F.col("c_custkey") % 8
    raw = F.lit(None).cast("string")
    for k, v in reversed(_CURRENCY_CASES):
        raw = F.when(code == k, v).otherwise(raw)
    return (cust.select("c_custkey", raw.alias("raw_code"),
                        normalize_currency_expr(raw).alias("norm_code"),
                        currency_valid_expr(raw).alias("passed"))
            .orderBy("c_custkey"))


V4_CURRENCY_VALIDATE_SQL = f"""
WITH coded AS (
  SELECT c_custkey,
    CASE c_custkey % 8
      {" ".join(f"WHEN {k} THEN '{v}'" for k, v in _CURRENCY_CASES)}
    END AS raw_code
  FROM customer
), normed AS (
  SELECT c_custkey, raw_code,
    CASE upper(trim(raw_code))
      WHEN '$' THEN 'USD' WHEN '€' THEN 'EUR' WHEN '£' THEN 'GBP'
      WHEN '¥' THEN 'JPY' WHEN '₹' THEN 'INR' WHEN '₽' THEN 'RUB'
      WHEN '₩' THEN 'KRW' ELSE upper(trim(raw_code)) END AS norm_code
  FROM coded
)
SELECT c_custkey, raw_code, norm_code,
       norm_code IN ({", ".join(f"'{c}'" for c in _VALID)}) AS passed
FROM normed
ORDER BY c_custkey
"""


_INVOICE_RE = r"^[A-Za-z0-9#][A-Za-z0-9_\-/.# ]{1,40}$"


def v5_regex_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invoice-number regex (validators.py:355) over synthesized ids —
    every 7th is deliberately malformed."""
    docs = table(spark, sf_dir, "documents")
    value = (F.when(F.col("doc_id") % 7 == 0, F.concat(F.lit("!!bad-"),
                                                       F.col("doc_id").cast("string")))
             .otherwise(F.concat(F.lit("INV-2026/"), F.col("doc_id").cast("string"))))
    return (docs.select("doc_id", value.alias("invoice_no"))
            .withColumn("passed", F.col("invoice_no").rlike(_INVOICE_RE))
            .orderBy("doc_id"))


V5_REGEX_VALIDATE_SQL = rf"""
WITH vals AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN '!!bad-' || CAST(doc_id AS VARCHAR)
         ELSE 'INV-2026/' || CAST(doc_id AS VARCHAR) END AS invoice_no
  FROM documents
)
SELECT doc_id, invoice_no,
       regexp_matches(invoice_no, '{_INVOICE_RE}') AS passed
FROM vals
ORDER BY doc_id
"""


def r3_font_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold bucketing (>=80 title / >=50 large / >=30 normal / small,
    io/reconstruction.py:100-118) over part sizes."""
    part = table(spark, sf_dir, "part")
    bin_ = (F.when(F.col("p_size") >= 40, "title")
            .when(F.col("p_size") >= 25, "large")
            .when(F.col("p_size") >= 10, "normal")
            .otherwise("small"))
    return (part.select("p_partkey", "p_size", bin_.alias("size_bin"))
            .orderBy("p_partkey"))


R3_FONT_BINS_SQL = """
SELECT p_partkey, p_size,
  CASE WHEN p_size >= 40 THEN 'title'
       WHEN p_size >= 25 THEN 'large'
       WHEN p_size >= 10 THEN 'normal'
       ELSE 'small' END AS size_bin
FROM part
ORDER BY p_partkey
"""


def v6_non_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V6 NonEmptyValidator as expressions (validators.py:412-435): the
    None / whitespace-only / non-empty trichotomy with the reference's
    exact messages, over values synthesized to hit every branch."""
    cust = table(spark, sf_dir, "customer")
    code = F.col("c_custkey") % 5
    value = (F.when(code == 0, F.lit(None).cast("string"))
             .when(code == 1, F.lit(""))
             .when(code == 2, F.lit("   "))
             .when(code == 3, F.col("c_name"))
             .otherwise(F.concat(F.lit("  "), F.col("c_name"), F.lit("  "))))
    passed = value.isNotNull() & (F.trim(value) != "")
    message = (F.when(value.isNull(), "Value is None")
               .when(F.trim(value) == "", "Value is empty")
               .otherwise("Value is not empty"))
    return (cust.select("c_custkey", value.alias("value"),
                        passed.alias("passed"), message.alias("message"))
            .orderBy("c_custkey"))


V6_NON_EMPTY_SQL = """
WITH vals AS (
  SELECT c_custkey,
    CASE c_custkey % 5
      WHEN 0 THEN NULL WHEN 1 THEN '' WHEN 2 THEN '   '
      WHEN 3 THEN c_name ELSE '  ' || c_name || '  ' END AS value
  FROM customer
)
SELECT c_custkey, value,
       value IS NOT NULL AND trim(value) <> '' AS passed,
       CASE WHEN value IS NULL THEN 'Value is None'
            WHEN trim(value) = '' THEN 'Value is empty'
            ELSE 'Value is not empty' END AS message
FROM vals
ORDER BY c_custkey
"""


_V7_FIELDS = [
    (0, "invoice_number", "string"), (1, "PO Number", "string"),
    (2, "customer_email", "string"), (3, "phone_mobile", "string"),
    (4, "invoice_date", "date"), (5, "total", "currency"),
    (6, "notes", "string"), (7, "line_count", "integer"),
]


def v7_validator_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V7 validator auto-selection (validators.py:457-477) as a CASE over
    the NAME RULES themselves (contains/startswith on the lowered name),
    not a lookup table — exercising every branch: date/currency by type,
    invoice-number / po-number / email / phone by name, non_empty always."""
    docs = table(spark, sf_dir, "documents")
    code = F.col("doc_id") % len(_V7_FIELDS)
    fname = F.lit(None).cast("string")
    dtype = F.lit(None).cast("string")
    for k, n, t in reversed(_V7_FIELDS):
        fname = F.when(code == k, n).otherwise(fname)
        dtype = F.when(code == k, t).otherwise(dtype)
    low = F.lower(fname)
    extra = (
        F.when(dtype == "date", "date")
        .when(dtype == "currency", "amount")
        .when(dtype == "string",
              F.when(low.contains("invoice") & low.contains("number"),
                     "regex:invoice_number")
              .when(low.startswith("po") & low.contains("number"),
                    "regex:po_number")
              .when(low.contains("email"), "regex:email")
              .when(low.contains("phone"), "regex:phone")))
    validators = F.concat_ws(",", F.lit("non_empty"), extra)
    return (docs.select("doc_id", fname.alias("field_name"),
                        dtype.alias("data_type"),
                        validators.alias("validators"))
            .orderBy("doc_id"))


V7_VALIDATOR_DISPATCH_SQL = f"""
WITH fields AS (
  SELECT doc_id,
    CASE doc_id % 8 {" ".join(f"WHEN {k} THEN '{n}'" for k, n, _ in _V7_FIELDS)}
    END AS field_name,
    CASE doc_id % 8 {" ".join(f"WHEN {k} THEN '{t}'" for k, _, t in _V7_FIELDS)}
    END AS data_type
  FROM documents
), dispatched AS (
  SELECT doc_id, field_name, data_type,
    CASE WHEN data_type = 'date' THEN 'date'
         WHEN data_type = 'currency' THEN 'amount'
         WHEN data_type = 'string' THEN
           CASE WHEN lower(field_name) LIKE '%invoice%'
                 AND lower(field_name) LIKE '%number%' THEN 'regex:invoice_number'
                WHEN lower(field_name) LIKE 'po%'
                 AND lower(field_name) LIKE '%number%' THEN 'regex:po_number'
                WHEN lower(field_name) LIKE '%email%' THEN 'regex:email'
                WHEN lower(field_name) LIKE '%phone%' THEN 'regex:phone'
           END
    END AS extra
  FROM fields
)
SELECT doc_id, field_name, data_type,
       CASE WHEN extra IS NULL THEN 'non_empty'
            ELSE 'non_empty,' || extra END AS validators
FROM dispatched
ORDER BY doc_id
"""


def v8_cross_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8 document-consistency checks in dataset form
    (validators.py:495-558): per order, extracted-field STRING rows
    (name, value) are pivoted back to a field map (map_from_entries), the
    amounts re-parsed from their rendered strings, then the two reference
    checks run: total == subtotal + tax (tolerance 0.01) and
    due_date >= invoice_date. Perturbations keyed by orderkey plant
    deterministic failures for both checks."""
    orders = table(spark, sf_dir, "orders")
    # render the extracted-field strings (amounts with $ and 2dp; dates ISO).
    # All amounts stay EXACT 2dp decimals (no 0.9x multiplications that land
    # on half-cent boundaries where Spark/DuckDB double rounding diverges).
    subtotal = F.col("o_totalprice")
    tax = (F.col("o_orderkey") % 97).cast("double") / 100.0
    total = (subtotal + tax
             + F.when(F.col("o_orderkey") % 13 == 0, 5.0).otherwise(0.0))
    due = F.date_add(F.col("o_orderdate"),
                     (F.col("o_orderkey") % 11 - 1).cast("int") * 3)
    fields = orders.select(
        "o_orderkey",
        F.map_from_entries(F.array(
            F.struct(F.lit("subtotal").alias("k"),
                     F.format_string("$%.2f", subtotal).alias("v")),
            F.struct(F.lit("tax").alias("k"),
                     F.format_string("$%.2f", tax).alias("v")),
            F.struct(F.lit("total").alias("k"),
                     F.format_string("$%.2f", total).alias("v")),
            F.struct(F.lit("invoice_date").alias("k"),
                     F.date_format("o_orderdate", "yyyy-MM-dd").alias("v")),
            F.struct(F.lit("due_date").alias("k"),
                     F.date_format(due, "yyyy-MM-dd").alias("v")),
        )).alias("m"))

    def amt(key):  # V1 parse: strip '$', cast
        return F.replace(fields["m"][key], F.lit("$"), F.lit("")).cast("double")

    calculated = F.round(amt("subtotal") + amt("tax"), 2)
    total_passed = F.abs(F.round(amt("total") - calculated, 2)) <= 0.01
    date_passed = (F.to_date(fields["m"]["due_date"])
                   >= F.to_date(fields["m"]["invoice_date"]))
    return (fields.select(F.col("o_orderkey").alias("orderkey"),
                          amt("total").alias("total"),
                          calculated.alias("calculated"),
                          total_passed.alias("total_passed"),
                          date_passed.alias("date_order_passed"))
            .orderBy("orderkey"))


V8_CROSS_FIELD_SQL = """
WITH rendered AS (
  SELECT o_orderkey,
    printf('$%.2f', o_totalprice) AS subtotal_s,
    printf('$%.2f', CAST(o_orderkey % 97 AS DOUBLE) / 100.0) AS tax_s,
    printf('$%.2f', o_totalprice + CAST(o_orderkey % 97 AS DOUBLE) / 100.0
                    + CASE WHEN o_orderkey % 13 = 0 THEN 5.0 ELSE 0.0 END)
      AS total_s,
    strftime(o_orderdate, '%Y-%m-%d') AS invoice_date_s,
    strftime(o_orderdate + INTERVAL (((o_orderkey % 11) - 1) * 3) DAY,
             '%Y-%m-%d') AS due_date_s
  FROM orders
), parsed AS (
  SELECT o_orderkey,
         CAST(replace(total_s, '$', '') AS DOUBLE) AS total,
         round(CAST(replace(subtotal_s, '$', '') AS DOUBLE)
               + CAST(replace(tax_s, '$', '') AS DOUBLE), 2) AS calculated,
         invoice_date_s, due_date_s
  FROM rendered
)
SELECT o_orderkey AS orderkey, total, calculated,
       abs(round(total - calculated, 2)) <= 0.01 AS total_passed,
       CAST(due_date_s AS DATE) >= CAST(invoice_date_s AS DATE)
         AS date_order_passed
FROM parsed
ORDER BY orderkey
"""


def v9_normalized_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-field normalized_value dispatch (types.py:224; kernel
    document._normalized_value; fixture contract test_markdown.py:131-146)
    as expressions: date -> ISO via the try-format chain, currency -> V1
    $-strip/comma parse rendered 2dp, string -> unchanged, failed parse ->
    NULL. Values synthesized per document to hit every branch, including
    the EU decimal-comma currency."""
    docs = table(spark, sf_dir, "documents")
    code = F.col("doc_id") % 5
    base_date = F.date_add(F.lit("2024-01-01").cast("date"),
                           (F.col("doc_id") % 365).cast("int"))
    us_amt = (F.col("doc_id") % 9000 + 100) / 100.0
    value = (F.when(code == 0, F.date_format(base_date, "dd/MM/yyyy"))
             .when(code == 1, F.format_string("$%.2f", us_amt))
             .when(code == 2, F.concat(F.lit("INV-"),
                                       F.col("doc_id").cast("string")))
             .when(code == 3, F.lit("not a date"))
             .otherwise(F.replace(F.format_string("%.2f", us_amt),
                                  F.lit("."), F.lit(","))))
    dtype = (F.when(code == 0, "date").when(code == 1, "currency")
             .when(code == 2, "string").when(code == 3, "date")
             .otherwise("currency"))
    parsed_date = F.coalesce(
        F.try_to_date(F.col("value"), "yyyy-MM-dd"),
        F.try_to_date(F.col("value"), "dd/MM/yyyy"))
    amount = F.replace(F.replace(F.col("value"), F.lit("$"), F.lit("")),
                       F.lit(","), F.lit(".")).try_cast("double")
    normalized = (
        F.when(F.col("data_type") == "date",
               F.date_format(parsed_date, "yyyy-MM-dd"))
        .when(F.col("data_type") == "currency",
              F.when(amount.isNotNull(), F.format_string("%.2f", amount)))
        .otherwise(F.col("value")))
    return (docs.select("doc_id", dtype.alias("data_type"),
                        value.alias("value"))
            .withColumn("normalized_value", normalized)
            .orderBy("doc_id"))


V9_NORMALIZED_VALUE_SQL = """
WITH vals AS (
  SELECT doc_id,
    CASE doc_id % 5
      WHEN 0 THEN 'date' WHEN 1 THEN 'currency' WHEN 2 THEN 'string'
      WHEN 3 THEN 'date' ELSE 'currency' END AS data_type,
    CASE doc_id % 5
      WHEN 0 THEN strftime(DATE '2024-01-01'
                           + INTERVAL (doc_id % 365) DAY, '%d/%m/%Y')
      WHEN 1 THEN printf('$%.2f', (doc_id % 9000 + 100) / 100.0)
      WHEN 2 THEN 'INV-' || CAST(doc_id AS VARCHAR)
      WHEN 3 THEN 'not a date'
      ELSE replace(printf('%.2f', (doc_id % 9000 + 100) / 100.0), '.', ',')
    END AS value
  FROM documents
), parsed AS (
  SELECT doc_id, data_type, value,
         coalesce(try_strptime(value, '%Y-%m-%d'),
                  try_strptime(value, '%d/%m/%Y')) AS parsed_date,
         TRY_CAST(replace(replace(value, '$', ''), ',', '.') AS DOUBLE)
           AS amount
  FROM vals
)
SELECT doc_id, data_type, value,
       CASE WHEN data_type = 'date' THEN strftime(parsed_date, '%Y-%m-%d')
            WHEN data_type = 'currency' THEN
              CASE WHEN amount IS NOT NULL THEN printf('%.2f', amount) END
            ELSE value END AS normalized_value
FROM parsed
ORDER BY doc_id
"""
