"""Kernel validator tests — expectations ported from the reference's own
tests/test_validators.py (the byte-identity anchors for V1-V10)."""

from datetime import datetime

import pytest

from horizon_ocr_python_spark.kernel import validators as V

NOW = datetime(2026, 3, 15, 12, 0, 0)  # injected determinism


class TestAmount:
    @pytest.mark.parametrize("amount", [
        "$1,234.56", "1234.56", "$100.00", "€1.000,50", "£999.99",
        "1,234,567.89", "0.01", "$10",
    ])  # reference test_validators.py:16-25
    def test_valid_amounts(self, amount):
        assert V.validate_amount(amount)["passed"], amount

    @pytest.mark.parametrize("amount", ["abc", "N/A", ""])
    def test_invalid_amounts(self, amount):
        assert not V.validate_amount(amount)["passed"], amount

    def test_parse_values(self):
        # separator disambiguation semantics (validators.py:110-125)
        assert V.parse_amount("1,234.56") == 1234.56
        assert V.parse_amount("1.234,56") == 1234.56
        assert V.parse_amount("123,45") == 123.45
        assert V.parse_amount("1,234") == 1234.0
        assert V.parse_amount("$495.00") == 495.0
        assert V.parse_amount(495) == 495.0
        assert V.parse_amount("-12.5") == -12.5
        assert V.parse_amount(None) is None
        assert V.parse_amount("abc") is None

    def test_negative_fails_validation(self):
        assert not V.validate_amount("-5.00")["passed"]

    def test_total_check_tolerance(self):
        assert V.validate_total(110.0, [100.0], 10.0)["passed"]
        assert V.validate_total(110.009, [100.0], 10.0)["passed"]
        assert not V.validate_total(110.02, [100.0], 10.0)["passed"]
        assert not V.validate_total(200.0, [100.0], 10.0)["passed"]


class TestDate:
    @pytest.mark.parametrize("date", [
        "2024-01-15", "01/15/2024", "15/01/2024", "January 15, 2024",
        "Jan 15, 2024", "15 Jan 2024", "2024/01/15",
        "2025-11-20 03:09:00", "2025-11-20T03:09:00", "2025-11-20T03:09:00Z",
        "2025-11-20 03:09", "11/20/2025 03:09", "11/20/2025 03:09:00",
    ])  # reference test_validators.py:57-71
    def test_valid_dates(self, date):
        assert V.validate_date(date, now=NOW)["passed"], date

    @pytest.mark.parametrize("date", ["not a date", "abc123", "", "32/13/2024"])
    def test_invalid_dates(self, date):
        assert not V.validate_date(date, now=NOW)["passed"], date

    def test_fifty_year_rule(self):
        assert not V.validate_date("1901-01-01", now=NOW)["passed"]
        assert not V.validate_date("2090-01-01", now=NOW)["passed"]
        assert V.validate_date("2026-01-01", now=NOW)["passed"]

    def test_two_digit_year(self):
        parsed, fmt = V.parse_date("15/01/24")
        assert parsed is not None and "%y" in fmt

    def test_normalize(self):
        assert V.normalize_date("January 15, 2024") == "2024-01-15"
        assert V.normalize_date("15/01/2024") == "2024-01-15"
        assert V.normalize_date("garbage") is None

    def test_format_priority_datetime_first(self):
        # datetime formats are tried before date-only (validators.py:192-211)
        _, fmt = V.parse_date("2024-01-15 10:30:00")
        assert fmt == "%Y-%m-%d %H:%M:%S"


class TestDocumentDateClock:
    """extract_document runs the 50-year rule against the row's warc_ts
    when no `now` is given, so a row's output does not depend on the day
    it is extracted."""

    HTML = b"<html><body><p>Date: 1976-06-01</p></body></html>"
    WARC_TS = datetime(2026, 3, 1)  # 49.8 years after the date

    def _status(self, warc_ts, **kw):
        from horizon_ocr_python_spark.kernel.document import extract_document

        doc = extract_document("https://x/d.html", self.HTML, warc_ts,
                               "en", **kw)
        assert doc["status"] == "ok", doc.get("error")
        return {f["name"]: f["status"] for f in doc["fields"]}["date"]

    def test_default_clock_is_warc_ts(self):
        assert self._status(self.WARC_TS) == "validated"
        assert self._status(self.WARC_TS, now=self.WARC_TS) == "validated"
        # a later clock puts the date past 50 years
        assert (self._status(self.WARC_TS, now=datetime(2026, 10, 20))
                == "validation_failed")

    def test_tz_aware_warc_ts_is_utc(self):
        from datetime import timedelta, timezone

        aware = datetime(2026, 3, 1, 5, tzinfo=timezone(timedelta(hours=5)))
        assert self._status(aware) == "validated"


class TestCurrency:
    @pytest.mark.parametrize("code", ["USD", "EUR", "GBP", "JPY", "CAD", "AUD", "CHF"])
    def test_valid(self, code):
        assert V.validate_currency(code)["passed"]

    @pytest.mark.parametrize("code", ["XXX", "DOLLAR", "", "US"])
    def test_invalid(self, code):
        assert not V.validate_currency(code)["passed"]

    @pytest.mark.parametrize("symbol,code", [
        ("$", "USD"), ("€", "EUR"), ("£", "GBP"), ("¥", "JPY"),
        ("₹", "INR"), ("₽", "RUB"), ("₩", "KRW"),
    ])
    def test_symbols_map(self, symbol, code):
        r = V.validate_currency(symbol)
        assert r["passed"] and r["code"] == code

    def test_lowercase_ok(self):
        assert V.validate_currency("usd")["passed"]


class TestRegex:
    @pytest.mark.parametrize("num", [
        "INV-001", "INV-12345", "123456", "inv-999", "INV-2024/001",
        "BOL-ABC-12345", "#38291-A", "SO-2024.07.001", "PO 12345",
    ])  # reference test_validators.py:150-160
    def test_invoice_numbers_valid(self, num):
        assert V.validate_regex(num, pattern_name="invoice_number")["passed"], num

    def test_empty_invoice_invalid(self):
        assert not V.validate_regex("", pattern_name="invoice_number")["passed"]

    def test_custom_pattern(self):
        assert V.validate_regex("100", pattern=r"^\d+$")["passed"]
        assert not V.validate_regex("abc", pattern=r"^\d+$")["passed"]

    def test_email_phone_zip(self):
        assert V.validate_regex("a.b@c.co", pattern_name="email")["passed"]
        assert not V.validate_regex("not-an-email", pattern_name="email")["passed"]
        assert V.validate_regex("+1 (555) 123-4567", pattern_name="phone")["passed"]
        assert V.validate_regex("12345-6789", pattern_name="zip_code")["passed"]
        assert V.validate_regex("12-3456789", pattern_name="tax_id")["passed"]


class TestNonEmpty:
    @pytest.mark.parametrize("val", ["hello", "123", "  text  ", "0"])
    def test_valid(self, val):
        assert V.validate_non_empty(val)["passed"]

    @pytest.mark.parametrize("val", ["", "   ", None])
    def test_invalid(self, val):
        assert not V.validate_non_empty(val)["passed"]


class TestAutoSelection:
    def test_selection_rules(self):
        # validators.py:457-477
        assert V.select_validators("total", "currency") == ["non_empty", "amount"]
        assert V.select_validators("invoice_date", "date") == ["non_empty", "date"]
        assert V.select_validators("invoice_number", "string") == \
            ["non_empty", "regex:invoice_number"]
        assert V.select_validators("po_number", "string") == ["non_empty", "regex:po_number"]
        assert V.select_validators("contact_email", "string") == ["non_empty", "regex:email"]
        assert V.select_validators("phone", "string") == ["non_empty", "regex:phone"]
        # 'reference_number' must NOT get the invoice regex (test_validators.py:287+)
        assert V.select_validators("reference_number", "string") == ["non_empty"]

    def test_run_validators(self):
        results = V.run_validators("total", "currency", "$1,234.56", now=NOW)
        assert all(r["passed"] for r in results)
        assert [r["name"] for r in results] == ["non_empty", "amount"]


class TestConsistency:
    def test_consistent_totals(self):
        fields = [
            {"name": "subtotal", "value": "100.00"},
            {"name": "tax", "value": "10.00"},
            {"name": "total", "value": "110.00"},
        ]
        results = V.validate_document_consistency(fields)
        total_checks = [r for r in results if r["name"] == "total_check"]
        assert len(total_checks) == 1 and total_checks[0]["passed"]

    def test_inconsistent_totals(self):
        fields = [
            {"name": "subtotal", "value": "100.00"},
            {"name": "tax", "value": "10.00"},
            {"name": "total", "value": "200.00"},
        ]
        results = V.validate_document_consistency(fields)
        total_checks = [r for r in results if r["name"] == "total_check"]
        assert len(total_checks) == 1 and not total_checks[0]["passed"]

    def test_date_order(self):
        ok = V.validate_document_consistency([
            {"name": "invoice_date", "value": "2024-01-15"},
            {"name": "due_date", "value": "2024-02-15"},
        ])
        assert any(r["name"] == "date_order" and r["passed"] for r in ok)
        bad = V.validate_document_consistency([
            {"name": "invoice_date", "value": "2024-02-15"},
            {"name": "due_date", "value": "2024-01-15"},
        ])
        assert any(r["name"] == "date_order" and not r["passed"] for r in bad)

    def test_total_amount_alias(self):
        # field-map lookup accepts total_amount/tax_amount (validators.py:516-518)
        results = V.validate_document_consistency([
            {"name": "subtotal", "value": "50"},
            {"name": "tax_amount", "value": "5"},
            {"name": "total_amount", "value": "55"},
        ])
        assert any(r["name"] == "total_check" and r["passed"] for r in results)
