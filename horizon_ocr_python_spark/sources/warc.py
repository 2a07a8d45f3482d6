"""WARC container support — the actual Common-Crawl interchange format.

Minimal, dependency-free WARC/1.0 implementation:
- writer: `response` records with WARC-Target-URI / WARC-Date headers and an
  HTTP/1.1 response envelope (how Common Crawl stores fetched pages)
- parser: record framing via Content-Length, header extraction, HTTP
  envelope stripping -> (url, warc_ts, payload bytes)
- Spark reader: binaryFile scan of *.warc -> record explode
  (engine.schema.map_rows) -> the engine's pages schema. Each WARC file is
  one input split (WARC is not arbitrarily splittable without an index —
  same operational reality as on a real cluster, where parallelism comes
  from the file count; Common Crawl ships ~1 GB files by the tens of
  thousands).

This makes `spark.read WARC -> extract_stage` a real ingestion path, not
just parquet.
"""

from __future__ import annotations

from datetime import datetime
from typing import Iterator, Optional

CRLF = b"\r\n"


def build_warc(records: list[tuple[str, datetime, bytes]],
               content_type: str = "text/html") -> bytes:
    """Serialize (url, ts, payload) triples as a WARC/1.0 byte stream of
    response records with an HTTP/1.1 envelope."""
    out = bytearray()
    for i, (url, ts, payload) in enumerate(records):
        http = (b"HTTP/1.1 200 OK" + CRLF
                + f"Content-Type: {content_type}".encode() + CRLF
                + f"Content-Length: {len(payload)}".encode() + CRLF
                + CRLF + payload)
        headers = [
            b"WARC/1.0",
            b"WARC-Type: response",
            f"WARC-Record-ID: <urn:uuid:rec-{i:08d}>".encode(),
            f"WARC-Target-URI: {url}".encode(),
            f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}".encode(),
            b"Content-Type: application/http; msgtype=response",
            f"Content-Length: {len(http)}".encode(),
        ]
        out += CRLF.join(headers) + CRLF + CRLF + http + CRLF + CRLF
    return bytes(out)


def parse_warc(data: bytes) -> Iterator[dict]:
    """Yield {url, warc_ts, payload} per response record. Tolerates unknown
    record types (skipped) and trailing garbage (stops cleanly)."""
    pos = 0
    n = len(data)
    while pos < n:
        # find record start
        start = data.find(b"WARC/", pos)
        if start < 0:
            return
        head_end = data.find(CRLF + CRLF, start)
        if head_end < 0:
            return
        header_block = data[start:head_end].decode("utf-8", errors="replace")
        headers = {}
        for line in header_block.split("\r\n")[1:]:
            if ":" in line:
                k, v = line.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            length = 0
        body = data[head_end + 4:head_end + 4 + length]
        pos = head_end + 4 + length

        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri", "")
        ts = _parse_warc_date(headers.get("warc-date", ""))
        payload = _strip_http_envelope(body)
        yield {"url": url, "warc_ts": ts, "payload": payload}


def _parse_warc_date(value: str) -> Optional[datetime]:
    try:
        return datetime.strptime(value, "%Y-%m-%dT%H:%M:%SZ")
    except ValueError:
        return None


def _strip_http_envelope(body: bytes) -> bytes:
    """Drop the HTTP/1.1 status+headers if present (CC response records wrap
    the payload in the original HTTP response)."""
    if body[:5] in (b"HTTP/",):
        sep = body.find(CRLF + CRLF)
        if sep >= 0:
            return body[sep + 4:]
    return body


def read_warc_pages(spark, warc_glob: str):
    """WARC files -> pages DataFrame (url, warc_ts, html, text, lang).

    binaryFile scan (one task per file — WARC's natural split unit) then a
    record explode per file. `text`/`lang` are NULL: ground truth and
    language are not part of the container; downstream stages fill lang.
    `WARC-Date` is UTC (its trailing `Z`) and is stored as UTC whatever the
    session time zone.
    """
    from ..engine.schema import PAGES_SCHEMA, map_rows

    files = spark.read.format("binaryFile").load(warc_glob).select("content")

    def explode_records(row: dict):
        for rec in parse_warc(row["content"]):
            yield {"url": rec["url"], "warc_ts": rec["warc_ts"],
                   "html": rec["payload"]}

    return map_rows(files, explode_records, PAGES_SCHEMA)
