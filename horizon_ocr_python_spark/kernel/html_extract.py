"""HTML main-content extraction: parse + boilerplate strip via text-density
and link-density heuristics.

This is the web-page analogue of the reference's per-document extraction
pipeline: its heuristic layout-block classifier assigns roles by position and
shape (detect/layout_doclaynet.py:210-251 — header top 15%, footer bottom,
nav-ish side regions, title near top); for HTML we classify DOM blocks by the
equivalent structural signals — container tags (<nav>/<header>/<footer>/
<aside>), link density (the DOM analogue of a region whose "ink" is mostly
navigation), and text density — then assemble reading-order text with the
reference's exact `"\n".join(...)` contract (pipeline/orchestrator.py:780).

Built on the stdlib html.parser (no bs4/lxml in this environment) — fully
deterministic, no version drift, which is what the byte-identity gate needs.

Output: ExtractedPage dict
    {title, blocks: [{index, tag, role, text, n_chars, link_chars,
                      link_density, dropped, drop_reason}],
     content_blocks: [...kept...], raw_text, tables: [{rows: [[cell,...]]}],
     headings: [...], lang_hint}
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Any, Optional

from .config import ExtractionConfig

# Tags whose entire subtree is invisible / non-content.
STRIP_TAGS = frozenset({
    "script", "style", "noscript", "template", "svg", "iframe",
    "object", "embed", "head", "meta", "link", "map", "area",
})

# Semantic boilerplate containers: any block nested under one is boilerplate.
BOILERPLATE_CONTAINERS = frozenset({"nav", "header", "footer", "aside", "menu"})

# class/id tokens that mark a container as boilerplate (checked on div/ul/ol/
# section containers; word-boundary match, case-insensitive).
BOILERPLATE_CLASS_RE = re.compile(
    r"(?:^|[\s_-])(nav|navbar|menu|sidebar|footer|header|banner|breadcrumbs?"
    r"|advert|ads?|promo|cookie|social|share|comments?|related|widget)(?:$|[\s_-])",
    re.IGNORECASE,
)

# Block-level elements that delimit text blocks.
BLOCK_TAGS = frozenset({
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "blockquote", "pre",
    "dt", "dd", "figcaption", "caption", "div", "article", "section",
    "main", "summary", "address",
})

HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

# Void elements never get a closing tag; track so the tag stack stays balanced.
VOID_TAGS = frozenset({
    "br", "hr", "img", "input", "wbr", "source", "track", "col",
    "param", "base",
})


def _collapse_ws(text: str) -> str:
    # " ".join(split()) == regex r"\s+" -> " " + strip (str.split splits on
    # every unicode whitespace incl. \xa0, same class as \s) and is ~3x
    # faster — this runs once per flushed block, a kernel hot spot
    return " ".join(text.split())


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
                    from . import table_model

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


def classify_block(block: dict, *, min_block_chars: int,
                   max_link_density: float,
                   min_text_density: float) -> tuple[str, bool, str]:
    """Classify a block -> (role, dropped, drop_reason).

    Deterministic rules, in order (mirrors the precedence style of
    layout_doclaynet.py:210-251):
    1. inside a boilerplate container -> drop 'boilerplate_container'
    2. heading tags -> keep, role 'heading' (h1 -> 'title')
    3. link_density > max_link_density -> drop 'link_density' (nav-like)
    4. fewer than min_block_chars chars -> drop 'too_short'
    5. else keep, role 'list_item' for li/dt/dd, 'paragraph' otherwise
    """
    tag = block["tag"]
    if block["boiler"]:
        return ("boilerplate", True, "boilerplate_container")
    if tag in HEADING_TAGS:
        return ("title" if tag == "h1" else "heading", False, "")
    link_density = block["link_chars"] / block["n_chars"] if block["n_chars"] else 1.0
    if link_density > max_link_density:
        return ("nav_like", True, "link_density")
    if block["n_chars"] < min_block_chars:
        return ("noise", True, "too_short")
    # text-density gate (boilerpipe-style chars-per-tag; the second DOM
    # heuristic besides link density). Off by default (min_text_density
    # 0) — the byte-identity contract is pinned with it off; crawl
    # configs raise it via extraction.min_text_density to shed markup-heavy
    # widget blocks that pass the link-density test.
    if min_text_density:
        density = block["n_chars"] / (1 + block.get("n_tags", 0))
        if density < min_text_density:
            return ("low_density", True, "text_density")
    if tag in ("li", "dt", "dd"):
        return ("list_item", False, "")
    return ("paragraph", False, "")


def extract_html(html: bytes | str, *,
                 min_block_chars: int = ExtractionConfig.min_block_chars,
                 max_link_density: float = ExtractionConfig.max_link_density,
                 min_text_density: float = ExtractionConfig.min_text_density
                 ) -> dict[str, Any]:
    """Extract main content from one HTML document. Pure and deterministic.

    The keyword thresholds are the C7 `extraction.*` settings; their
    defaults are EngineConfig's (text density defaults OFF).
    """
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    parser = _Extractor()
    parser.feed(html)
    parser.close()

    blocks = []
    content_blocks = []
    headings = []
    title = _collapse_ws("".join(parser.title_parts))
    for blk in parser.blocks:
        role, dropped, reason = classify_block(
            blk, min_block_chars=min_block_chars,
            max_link_density=max_link_density,
            min_text_density=min_text_density)
        link_density = (blk["link_chars"] / blk["n_chars"]) if blk["n_chars"] else 0.0
        out = {
            "index": blk["index"], "tag": blk["tag"], "role": role,
            "text": blk["text"], "n_chars": blk["n_chars"],
            "link_chars": blk["link_chars"], "link_density": link_density,
            "text_density": blk["n_chars"] / (1 + blk.get("n_tags", 0)),
            "dropped": dropped, "drop_reason": reason,
        }
        blocks.append(out)
        if not dropped:
            content_blocks.append(out)
            if role in ("title", "heading"):
                headings.append(blk["text"])
                if role == "title" and not title:
                    title = blk["text"]

    # the byte-identity contract: orchestrator.py:780
    raw_text = "\n".join(b["text"] for b in content_blocks if b["text"])

    return {
        "title": title,
        "blocks": blocks,
        "content_blocks": content_blocks,
        "headings": headings,
        "raw_text": raw_text,
        "tables": parser.tables,
    }
