"""Reusable Column expressions mirroring the kernel validators.

Each function takes Column(s) and returns a Column; nothing here touches
Python rows — these stay inside whole-stage codegen (nested CASE WHEN
trees rather than UDFs).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..kernel.validators import CURRENCY_SYMBOL_MAP, VALID_CURRENCIES

# --- V4 currency (validators.py:294-344) ---------------------------------------


def normalize_currency_expr(col: Column) -> Column:
    code = F.upper(F.trim(col))
    out = code
    for sym, iso in CURRENCY_SYMBOL_MAP.items():
        out = F.when(code == sym, iso).otherwise(out)
    return out


def currency_valid_expr(col: Column) -> Column:
    return normalize_currency_expr(col).isin(*sorted(VALID_CURRENCIES))

