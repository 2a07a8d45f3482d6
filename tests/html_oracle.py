"""The reference HTML scanner for the differential tests: the stdlib
`html.parser.HTMLParser` subclass `kernel/html_extract.py` was built on
before its own scanner replaced it.

`oracle_scan` feeds one document to it and closes it, and returns what
`html_extract._scan` returns for the same document: the collapsed title,
the raw blocks and the tables. An input on which the stdlib raises makes
`oracle_scan` raise the same exception.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Optional

from horizon_ocr_python_spark.kernel import table_model
from horizon_ocr_python_spark.kernel.html_extract import (
    BLOCK_TAGS, BOILERPLATE_CLASS_RE, BOILERPLATE_CONTAINERS, STRIP_TAGS,
    VOID_TAGS, _collapse_ws)


class _Extractor(HTMLParser):
    """Single-pass block builder over the tag stream."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.stack: list[tuple[str, bool]] = []  # (tag, opened_boilerplate)
        self.strip_depth = 0           # > 0 while inside a STRIP_TAGS subtree
        self.boiler_depth = 0          # > 0 while inside a boilerplate container
        self.link_depth = 0            # > 0 while inside <a>
        self.title_parts: list[str] = []
        self.in_title = False

        # table capture
        self.table_depth = 0
        self.tables: list[dict] = []
        self._cur_rows: list[list[str]] = []
        self._cur_cells: list[str] = []
        self._cell_parts: list[str] = []
        self.in_cell = False

        # block capture
        self.blocks: list[dict] = []
        self._buf: list[str] = []
        self._buf_link_chars = 0
        self._buf_tag = "div"
        self._buf_tags = 0  # inner tags seen in the current block (density)

    # -- helpers ------------------------------------------------------------

    def _flush(self) -> None:
        text = _collapse_ws("".join(self._buf))
        if text:
            self.blocks.append({
                "index": len(self.blocks),
                "tag": self._buf_tag,
                "text": text,
                "n_chars": len(text),
                "link_chars": min(self._buf_link_chars, len(text)),
                "n_tags": self._buf_tags,
                "boiler": self.boiler_depth > 0,
            })
        self._buf = []
        self._buf_link_chars = 0
        self._buf_tags = 0

    @staticmethod
    def _is_boiler_attrs(attrs: list[tuple[str, Optional[str]]]) -> bool:
        for name, value in attrs:
            if name in ("class", "id", "role") and value:
                if name == "role" and value.lower() in ("navigation", "banner",
                                                        "contentinfo", "complementary"):
                    return True
                if name != "role" and BOILERPLATE_CLASS_RE.search(value):
                    return True
        return False

    # -- parser callbacks -----------------------------------------------------

    def handle_starttag(self, tag: str, attrs: list) -> None:
        if tag in VOID_TAGS:
            if tag == "br" and not self.strip_depth:
                self._buf.append(" ")
            return
        if tag in STRIP_TAGS:
            self.strip_depth += 1
            self.stack.append((tag, False))
            return
        if tag == "title":
            self.in_title = True
            self.stack.append((tag, False))
            return

        boiler = tag in BOILERPLATE_CONTAINERS or self._is_boiler_attrs(attrs)
        if boiler:
            self.boiler_depth += 1
        self.stack.append((tag, boiler))

        if tag == "table":
            self._flush()
            self.table_depth += 1
            if self.table_depth == 1:
                self._cur_rows = []
            return
        if self.table_depth:
            if tag == "tr" and self.table_depth == 1:
                self._cur_cells = []
            elif tag in ("td", "th") and self.table_depth == 1:
                self.in_cell = True
                self._cell_parts = []
                # colspan/rowspan -> the rich Cell model (reference
                # types.py:161-198; TATR's spanning-cell label 5)
                amap = dict(attrs)

                def _span(key):
                    try:
                        return max(1, int(str(amap.get(key, "1")).strip()))
                    except (TypeError, ValueError):
                        return 1

                self._cell_meta = {"is_header": tag == "th",
                                   "colspan": _span("colspan"),
                                   "rowspan": _span("rowspan")}
            return

        if tag == "a":
            self.link_depth += 1
        if tag in BLOCK_TAGS:
            self._flush()
            self._buf_tag = tag
        else:
            # inline tag inside the current block: the text-density signal
            # counts markup structure per block (chars / (1 + tags) — the
            # boilerpipe-style density the layout classifier uses)
            self._buf_tags += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in VOID_TAGS:
            return
        # unwind the stack to the matching open tag (tolerate bad nesting);
        # fast path: the top of the stack matches (the common case)
        stack = self.stack
        if stack and stack[-1][0] == tag:
            closed = [stack.pop()]
        else:
            marker = None
            for i in range(len(stack) - 1, -1, -1):
                if stack[i][0] == tag:
                    marker = i
                    break
            if marker is None:
                return
            closed = stack[marker:]
            closed.reverse()
            del stack[marker:]
        for base, was_boiler in closed:
            if base in STRIP_TAGS:
                self.strip_depth = max(0, self.strip_depth - 1)
            if base == "title":
                self.in_title = False
            if base == "a":
                self.link_depth = max(0, self.link_depth - 1)
            if self.table_depth == 0 and base in BLOCK_TAGS:
                # flush while boiler_depth still reflects this subtree
                self._flush()
            if was_boiler:
                self.boiler_depth = max(0, self.boiler_depth - 1)
            if base == "table":
                if self.table_depth == 1 and self._cur_rows:
                    self.tables.append(table_model.from_html_rows(self._cur_rows))
                    self._cur_rows = []
                self.table_depth = max(0, self.table_depth - 1)
            if self.table_depth:
                if base == "tr" and self.table_depth == 1 and self._cur_cells:
                    self._cur_rows.append(self._cur_cells)
                    self._cur_cells = []
                elif base in ("td", "th") and self.table_depth == 1 and self.in_cell:
                    meta = getattr(self, "_cell_meta", None) or {}
                    self._cur_cells.append({
                        "text": _collapse_ws("".join(self._cell_parts)),
                        **{k: meta.get(k, d) for k, d in
                           (("is_header", False), ("colspan", 1),
                            ("rowspan", 1))}})
                    self.in_cell = False

    def handle_data(self, data: str) -> None:
        if self.in_title:  # <title> lives inside <head> (a STRIP tag) — check first
            self.title_parts.append(data)
            return
        if self.strip_depth:
            return
        if self.table_depth:
            if self.in_cell:
                self._cell_parts.append(data)
            return
        self._buf.append(data)
        if self.link_depth:
            self._buf_link_chars += len(_collapse_ws(data))

    def close(self) -> None:  # flush trailing text
        super().close()
        self._flush()


def oracle_scan(html: str) -> tuple[str, list[dict], list[dict]]:
    parser = _Extractor()
    parser.feed(html)
    parser.close()
    return _collapse_ws("".join(parser.title_parts)), parser.blocks, parser.tables
