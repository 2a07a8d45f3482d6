"""Field validators — pure functions with the semantics of the reference's
validator classes (docvision/kie/validators.py).

Unlike the reference (class-per-validator, ValidatorResult Pydantic objects,
docvision/kie/validators.py:21-41), these are plain functions returning plain
dicts so they can run inside Arrow row maps and be mirrored by SQL
expressions (see operators/validators_sql) that Catalyst can codegen.

Semantics pinned to the reference:
- amount parsing / separator disambiguation  -> validators.py:96-130
- total tolerance 0.01                        -> validators.py:49-56,153
- 18 date formats + 2-digit-year retry        -> validators.py:191-212,272-279
- >50-years-from-now rejection                -> validators.py:236-249
- ISO-4217 set + symbol map                   -> validators.py:294-329
- regex patterns                              -> validators.py:354-361
- auto-selection rules                        -> validators.py:457-477
- cross-field consistency                     -> validators.py:495-558
"""

from __future__ import annotations

import re
from datetime import datetime
from typing import Any, Optional

# --- amount ---------------------------------------------------------------

_CURRENCY_SYMBOL_RE = re.compile(r"[$€£¥₹]")  # $ € £ ¥ ₹
_DECIMAL_COMMA_RE = re.compile(r"^\d+,\d{2}$")

AMOUNT_TOLERANCE = 0.01


def parse_amount(value: Any) -> Optional[float]:
    """Parse a monetary amount from mixed locale formats.

    Reference: AmountValidator._parse_amount (validators.py:96-130).
    "1,234.56" (US) and "1.234,56" (EU) and "123,45" (EU decimal) all parse.
    """
    if isinstance(value, bool):
        return None
    if isinstance(value, (int, float)):
        return float(value)
    if not isinstance(value, str):
        return None

    cleaned = _CURRENCY_SYMBOL_RE.sub("", value).strip()

    if "," in cleaned and "." in cleaned:
        if cleaned.rfind(",") > cleaned.rfind("."):
            cleaned = cleaned.replace(".", "").replace(",", ".")  # 1.234,56
        else:
            cleaned = cleaned.replace(",", "")  # 1,234.56
    elif "," in cleaned:
        if _DECIMAL_COMMA_RE.match(cleaned):
            cleaned = cleaned.replace(",", ".")  # 123,45
        else:
            cleaned = cleaned.replace(",", "")  # 1,234

    try:
        return float(cleaned)
    except ValueError:
        return None


def validate_amount(value: Any) -> dict:
    """AmountValidator.validate (validators.py:58-94): parseable and >= 0."""
    parsed = parse_amount(value)
    if parsed is None:
        return {"name": "amount", "passed": False, "message": "Could not parse as amount"}
    if parsed < 0:
        # the reference's negative branch still carries the parse in details
        # (validators.py:74-79 details={"parsed_value": parsed})
        return {"name": "amount", "passed": False, "message": "Amount is negative",
                "parsed_value": parsed}
    return {"name": "amount", "passed": True, "message": "Valid amount", "parsed_value": parsed}


def validate_total(total: float, items: list, tax: Optional[float] = None,
                   tolerance: float = AMOUNT_TOLERANCE) -> dict:
    """|total - (sum(items) + tax)| <= tolerance (validators.py:132-176)."""
    calculated = sum(items) + (tax if tax is not None else 0.0)
    diff = abs(total - calculated)
    return {
        "name": "total_check",
        "passed": diff <= tolerance,
        "total": total,
        "calculated": calculated,
        "difference": diff,
    }


# --- date -----------------------------------------------------------------

DATE_FORMATS = [
    # date + time, most specific first (validators.py:192-200)
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%dT%H:%M:%SZ",
    "%Y-%m-%d %H:%M",
    "%m/%d/%Y %H:%M:%S",
    "%m/%d/%Y %H:%M",
    "%d/%m/%Y %H:%M:%S",
    "%d/%m/%Y %H:%M",
    # date only (validators.py:201-211)
    "%Y-%m-%d",
    "%d/%m/%Y",
    "%m/%d/%Y",
    "%d-%m-%Y",
    "%m-%d-%Y",
    "%B %d, %Y",
    "%b %d, %Y",
    "%d %B %Y",
    "%d %b %Y",
    "%Y/%m/%d",
]


# Fast path: a bare ISO date can only match "%Y-%m-%d" — the 8 formats tried
# before it all require a time component or different separators, so jumping
# straight to it preserves first-match-wins semantics exactly.
_ISO_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")


def parse_date(value: str) -> tuple[Optional[datetime], Optional[str]]:
    """Try the 18 formats, then each with %Y->%y (validators.py:262-279)."""
    if _ISO_DATE_RE.match(value):
        try:
            return datetime.strptime(value, "%Y-%m-%d"), "%Y-%m-%d"
        except ValueError:
            return None, None  # e.g. 2024-13-45: no other format can match
    for fmt in DATE_FORMATS:
        try:
            return datetime.strptime(value, fmt), fmt
        except ValueError:
            continue
    for fmt in DATE_FORMATS:
        fmt2 = fmt.replace("%Y", "%y")
        try:
            return datetime.strptime(value, fmt2), fmt2
        except ValueError:
            continue
    return None, None


def validate_date(value: Any, now: Optional[datetime] = None) -> dict:
    """DateValidator.validate (validators.py:214-260).

    `now` is injectable for determinism (the reference calls datetime.now()
    at validators.py:237 — a non-determinism source we neutralize, SURVEY §7.5).
    """
    if not value:
        return {"name": "date", "passed": False, "message": "Empty date value"}
    str_value = str(value).strip()
    parsed, fmt = parse_date(str_value)
    if parsed is None:
        return {"name": "date", "passed": False, "message": "Could not parse date"}
    now = now or datetime.now()
    years_diff = abs((now - parsed).days / 365)
    if years_diff > 50:
        return {"name": "date", "passed": False,
                "message": "Date seems unreasonable (>50 years from now)"}
    return {
        "name": "date", "passed": True, "message": "Valid date",
        "format_used": fmt, "normalized": parsed.strftime("%Y-%m-%d"),
    }


def normalize_date(value: str) -> Optional[str]:
    """Normalize to ISO YYYY-MM-DD (validators.py:281-286)."""
    parsed, _ = parse_date(value)
    return parsed.strftime("%Y-%m-%d") if parsed else None


# --- currency ---------------------------------------------------------------

VALID_CURRENCIES = {
    "USD", "EUR", "GBP", "JPY", "CAD", "AUD", "CHF", "CNY",
    "INR", "MXN", "BRL", "KRW", "SGD", "HKD", "NOK", "SEK",
    "DKK", "NZD", "ZAR", "RUB", "TRY", "PLN", "THB", "MYR",
    "IDR", "PHP", "CZK", "ILS", "CLP", "PKR", "AED", "SAR",
}  # validators.py:295-300

CURRENCY_SYMBOL_MAP = {
    "$": "USD", "€": "EUR", "£": "GBP", "¥": "JPY",
    "₹": "INR", "₽": "RUB", "₩": "KRW",
}  # validators.py:323-326


def validate_currency(value: Any, allowed: Optional[set] = None) -> dict:
    """CurrencyValidator.validate (validators.py:311-344)."""
    if not value:
        return {"name": "currency", "passed": False, "message": "Empty currency value"}
    code = str(value).upper().strip()
    code = CURRENCY_SYMBOL_MAP.get(code, code)
    allowed = allowed or VALID_CURRENCIES
    if code in allowed:
        return {"name": "currency", "passed": True, "message": "Valid currency code",
                "code": code}
    return {"name": "currency", "passed": False,
            "message": f"Invalid or disallowed currency code: {code}", "code": code}


# --- regex -------------------------------------------------------------------

REGEX_PATTERNS = {
    "invoice_number": r"^[A-Za-z0-9#][\w\-/.# ]{1,40}$",
    "po_number": r"^[A-Za-z0-9#][\w\-/.# ]{1,30}$",
    "email": r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$",
    "phone": r"^[\+]?[\d\s\-\(\)]{7,20}$",
    "zip_code": r"^\d{5}(-\d{4})?$",
    "tax_id": r"^\d{2}-?\d{7}$",
}  # validators.py:354-361


def validate_regex(value: Any, pattern: Optional[str] = None,
                   pattern_name: Optional[str] = None) -> dict:
    """RegexValidator.validate (validators.py:363-404). Case-insensitive match."""
    if pattern is None:
        pattern = REGEX_PATTERNS.get(pattern_name or "", r".*")
    if value is None:
        return {"name": "regex", "passed": False, "message": "Empty value"}
    str_value = str(value).strip()
    ok = re.match(pattern, str_value, re.IGNORECASE) is not None
    return {"name": "regex", "passed": ok,
            "message": "Matches pattern" if ok else "Does not match expected pattern"}


def validate_non_empty(value: Any) -> dict:
    """NonEmptyValidator.validate (validators.py:412-435)."""
    if value is None:
        return {"name": "non_empty", "passed": False, "message": "Value is None"}
    if not str(value).strip():
        return {"name": "non_empty", "passed": False, "message": "Value is empty"}
    return {"name": "non_empty", "passed": True, "message": "Value is not empty"}


# --- auto-selection + document consistency ----------------------------------


def select_validators(field_name: str, data_type: str) -> list[str]:
    """Validator auto-selection rules (validators.py:457-477).

    Returns validator spec names; 'non_empty' always first.
    """
    specs = ["non_empty"]
    if data_type == "date":
        specs.append("date")
    elif data_type == "currency":
        specs.append("amount")
    elif data_type == "string":
        name_lower = field_name.lower()
        if "invoice" in name_lower and "number" in name_lower:
            specs.append("regex:invoice_number")
        elif name_lower.startswith("po") and "number" in name_lower:
            specs.append("regex:po_number")
        elif "email" in name_lower:
            specs.append("regex:email")
        elif "phone" in name_lower:
            specs.append("regex:phone")
    return specs


def run_validators(field_name: str, data_type: str, value: Any,
                   now: Optional[datetime] = None) -> list[dict]:
    """run_all_validators with auto-selection (validators.py:438-492)."""
    results = []
    for spec in select_validators(field_name, data_type):
        if spec == "non_empty":
            results.append(validate_non_empty(value))
        elif spec == "date":
            results.append(validate_date(value, now=now))
        elif spec == "amount":
            results.append(validate_amount(value))
        elif spec.startswith("regex:"):
            results.append(validate_regex(value, pattern_name=spec.split(":", 1)[1]))
    return results


def validate_document_consistency(fields: list[dict],
                                  tolerance: float = AMOUNT_TOLERANCE) -> list[dict]:
    """Cross-field checks (validators.py:495-558).

    `fields` are dicts with at least {name, value}. Checks:
    - total == subtotal + tax (tolerance 0.01), using total/total_amount,
      subtotal, tax/tax_amount lookups (validators.py:516-528)
    - due_date >= invoice_date (validators.py:531-556)
    """
    results = []
    field_map = {f["name"].lower(): f for f in fields}

    total_field = field_map.get("total") or field_map.get("total_amount")
    subtotal_field = field_map.get("subtotal")
    tax_field = field_map.get("tax") or field_map.get("tax_amount")
    if total_field and subtotal_field:
        total = parse_amount(total_field["value"]) or 0
        subtotal = parse_amount(subtotal_field["value"]) or 0
        tax = (parse_amount(tax_field["value"]) if tax_field else 0) or 0
        results.append(validate_total(total, [subtotal], tax, tolerance))

    invoice_date = field_map.get("invoice_date") or field_map.get("date")
    due_date = field_map.get("due_date")
    if invoice_date and due_date:
        inv_parsed, _ = parse_date(str(invoice_date["value"]))
        due_parsed, _ = parse_date(str(due_date["value"]))
        if inv_parsed and due_parsed:
            if due_parsed < inv_parsed:
                results.append({"name": "date_order", "passed": False,
                                "message": "Due date is before invoice date"})
            else:
                results.append({"name": "date_order", "passed": True,
                                "message": "Date order is valid"})
    return results
