"""Reusable Column expressions mirroring the kernel validators and text ops.

Each function takes Column(s) and returns a Column; nothing here touches
Python rows — these stay inside whole-stage codegen. Where a kernel function
can't be expressed as pure expressions (multi-format amount parsing with
conditional separator logic CAN — see parse_amount_expr), we build nested
CASE WHEN trees rather than falling back to UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..kernel.validators import CURRENCY_SYMBOL_MAP, VALID_CURRENCIES

# --- V1 amount parsing (validators.py:96-130) as expressions -----------------


def parse_amount_expr(col: Column) -> Column:
    """Locale-aware amount parse: strips currency symbols, disambiguates
    1,234.56 / 1.234,56 / 123,45, returns DOUBLE (NULL if unparseable)."""
    cleaned = F.trim(F.regexp_replace(col, r"[$€£¥₹]", ""))
    has_comma = cleaned.contains(",")
    has_dot = cleaned.contains(".")
    # rfind comparisons via reversed instr
    last_comma_after_dot = (
        F.length(cleaned) - F.instr(F.reverse(cleaned), ",")
        > F.length(cleaned) - F.instr(F.reverse(cleaned), "."))
    eu_full = F.replace(F.replace(cleaned, F.lit("."), F.lit("")),
                        F.lit(","), F.lit("."))
    us_full = F.replace(cleaned, F.lit(","), F.lit(""))
    decimal_comma = cleaned.rlike(r"^\d+,\d{2}$")
    comma_as_decimal = F.replace(cleaned, F.lit(","), F.lit("."))
    normalized = (
        F.when(has_comma & has_dot,
               F.when(last_comma_after_dot, eu_full).otherwise(us_full))
        .when(has_comma,
              F.when(decimal_comma, comma_as_decimal).otherwise(us_full))
        .otherwise(cleaned))
    return normalized.try_cast("double")


# --- V3 date normalization (validators.py:191-212) ----------------------------

_SPARK_DATE_FORMATS = [
    "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd HH:mm",
    "MM/dd/yyyy HH:mm:ss", "MM/dd/yyyy HH:mm",
    "yyyy-MM-dd", "dd/MM/yyyy", "MM/dd/yyyy", "dd-MM-yyyy", "MM-dd-yyyy",
    "MMMM d, yyyy", "MMM d, yyyy", "d MMMM yyyy", "d MMM yyyy", "yyyy/MM/dd",
]


def normalize_date_expr(col: Column) -> Column:
    """Multi-format date parse -> ISO string (the 18-format loop as a
    coalesce chain; format order preserved = first-match-wins semantics)."""
    attempts = [F.try_to_timestamp(col, F.lit(fmt)).cast("date")
                for fmt in _SPARK_DATE_FORMATS]
    return F.date_format(F.coalesce(*attempts), "yyyy-MM-dd")


# --- V4 currency (validators.py:294-344) ---------------------------------------


def normalize_currency_expr(col: Column) -> Column:
    code = F.upper(F.trim(col))
    out = code
    for sym, iso in CURRENCY_SYMBOL_MAP.items():
        out = F.when(code == sym, iso).otherwise(out)
    return out


def currency_valid_expr(col: Column) -> Column:
    return normalize_currency_expr(col).isin(*sorted(VALID_CURRENCIES))

