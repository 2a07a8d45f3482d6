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

The scanner (`_scan`) is one loop over the decoded document with its block,
table and title state in local variables. It tokenizes exactly as CPython
3.11's `html.parser.HTMLParser` does after `feed()` then `close()` with
`convert_charrefs=True` — the same data chunks, tags and attribute values,
and the same AssertionError where that parser raises. Chunk boundaries
matter: `link_chars` sums the collapsed length of each chunk. Its parts:

- one compiled token regex, consumed with `findall`, covers the common
  shapes: text, start tags with plain attributes, end tags, comments,
  the doctype and processing instructions;
- any other `<` (script/style, malformed markup, a stray `<`) goes to
  `_exact_token`, a transliteration of `HTMLParser.goahead` for that one
  token with the parser's own patterns, copied below;
- attributes are parsed only where they are read: class/id/role for the
  boilerplate test, colspan/rowspan on table cells.

The patterns are copies, so the output does not depend on the
interpreter's `html.parser` patch release. tests/html_oracle.py holds the
same handlers as an `HTMLParser` subclass, the oracle that
tests/test_kernel_html_oracle.py checks the scanner against on the corpus
pages and on fuzzed malformed input.

Output: ExtractedPage dict
    {title, blocks: [{index, tag, role, text, n_chars, link_chars,
                      link_density, dropped, drop_reason}],
     content_blocks: [...kept...], raw_text, tables: [{rows: [[cell,...]]}],
     headings: [...], lang_hint}
"""

from __future__ import annotations

import re
from html import unescape
from typing import Any

from . import table_model
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


# -- tokenizer ----------------------------------------------------------------
# CPython 3.11 html.parser / _markupbase patterns, verbatim.
_starttagopen = re.compile('<[a-zA-Z]').match
_piclose = re.compile('>')
_commentclose = re.compile(r'--\s*>')
_tagfind_tolerant = re.compile(
    r'([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*').match
_attrfind_tolerant = re.compile(
    r'((?<=[\'"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*'
    r'(\'[^\']*\'|"[^"]*"|(?![\'"])[^>\s]*))?(?:\s|/(?!>))*').match
_locatestarttagend_tolerant = re.compile(r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*       # tag name
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
         )
        \s*                          # possibly followed by a space
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""", re.VERBOSE).match
_endendtag = re.compile('>')
_endtagfind = re.compile(r'</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>').match
_declname_match = re.compile(r'[a-zA-Z][-_.a-zA-Z0-9]*\s*').match
_markedsectionclose = re.compile(r']\s*]\s*>')
_msmarkedsectionclose = re.compile(r']\s*>')
# set_cdata_mode's end pattern for the two CDATA_CONTENT_ELEMENTS
_CDATA_CLOSE = {elem: re.compile(r'</\s*%s\s*>' % elem, re.I)
                for elem in ("script", "style")}
# the (?:\s|/(?!>))* tail of tagfind_tolerant: the gap before the first
# attribute of a start tag
_attr_gap = re.compile(r'(?:\s|/(?!>))*').match

# Fast token: a text chunk (everything up to the next `<`), then one of
#   2-4  a start tag other than script/style whose attributes are
#        name[=value] pairs separated by ASCII whitespace (quoted or bare
#        values), with an optional `/`;
#   5    an end tag, by endtagfind itself;
#        a closed comment, a doctype, a processing instruction;
#   6-7  any other `<`, with the rest of the document (the exact path
#        takes it from there);
#        or the end of the document.
# Every start tag these match gets the same name, attributes and `/>`
# reading from HTMLParser.parse_starttag: its name and attribute names
# end where the parser's do, and a bare value (greedy, no `>`) can only be
# followed by ASCII whitespace or `>`, where the parser's bare value ends
# too — so `<a href=/x/>` is a start tag with href "/x/" in both.
_FAST_ATTRS = (r"(?:[ \t\n\r\f]+[a-zA-Z_:][-a-zA-Z0-9_:.]*"
               r"""(?:=(?:"[^"]*"|'[^']*'|[^\s"'=<>`]+))?)*""")
_TOKEN_SRC = (
    r"([^<]*)(?:"
    r"<(?!(?:[sS][cC][rR][iI][pP][tT]|[sS][tT][yY][lL][eE])[ \t\n\r\f/>])"
    r"([a-zA-Z][a-zA-Z0-9]*)(" + _FAST_ATTRS + r")[ \t\n\r\f]*(/?)>"
    r"|</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"
    r"|<!--[\s\S]*?--\s*>"
    r"|<![dD][oO][cC][tT][yY][pP][eE][^>]*>"
    r"|<\?[^>]*>"
    r"|(<)(%s)"
    r"|\Z)")
# findall over the rest of the document; each `<` the exact path takes
# copies the rest once, so after _BATCH_LIMIT of them a document goes on
# one token per match (linear in the number of such `<`)
_tokens = re.compile(_TOKEN_SRC % r"[\s\S]*").findall
_token = re.compile(_TOKEN_SRC % "").match
_BATCH_LIMIT = 16

# attribute names the scanner reads; a fast start tag without one of them
# followed by `=` has no attribute the extraction looks at
_ATTR_HINT = re.compile(r"(?:class|id|role|colspan|rowspan)=", re.I).search


def _parse_attrs(src: str, k: int, endpos: int) -> tuple[list, int]:
    """HTMLParser.parse_starttag's attribute loop over src[k:endpos]:
    ([(lowercased name, value or None)], where the loop stopped)."""
    attrs = []
    while k < endpos:
        m = _attrfind_tolerant(src, k)
        if not m:
            break
        attrname, rest, attrvalue = m.group(1, 2, 3)
        if not rest:
            attrvalue = None
        elif attrvalue[:1] == '\'' == attrvalue[-1:] or \
                attrvalue[:1] == '"' == attrvalue[-1:]:
            attrvalue = attrvalue[1:-1]
        if attrvalue:
            attrvalue = unescape(attrvalue)
        attrs.append((attrname.lower(), attrvalue))
        k = m.end()
    return attrs, k


def _attr_list(attrs) -> list | tuple:
    """A start-tag token's attributes as parse_starttag lists them.
    `attrs` is the tag's attribute source text (fast tokens), parsed only
    when it names an attribute the scanner reads (else ()), or the list
    the exact path already parsed."""
    if attrs.__class__ is not str:
        return attrs
    if _ATTR_HINT(attrs) is None:
        return ()
    return _parse_attrs(attrs, _attr_gap(attrs).end(), len(attrs))[0]


def _text(chunk: str) -> tuple:
    # a token that is only a text chunk, already in its final form
    return ("", "", "", "", "", "", chunk)


def _exact_token(html: str, i: int) -> tuple[list[tuple], int]:
    """HTMLParser.goahead at the `<` at html[i], at end of input: the
    tokens it yields (in _TOKEN_SRC's tuple layout; text chunks in the
    last slot) and where scanning goes on. A script/style start tag takes
    its CDATA content and end tag with it; a CDATA section that never
    closes ends the document."""
    out: list[tuple] = []
    if _starttagopen(html, i):
        k = _exact_starttag(html, i, out)
    elif html.startswith("</", i):
        k = _exact_endtag(html, i, out)
    elif html.startswith("<!--", i):
        m = _commentclose.search(html, i + 4)
        k = m.end() if m else -1
    elif html.startswith("<?", i):
        m = _piclose.search(html, i + 2)
        k = m.end() if m else -1
    elif html.startswith("<!", i):
        k = _declaration_end(html, i)
    else:  # a stray `<` is a chunk of its own
        return [_text("<")], i + 1
    if k < 0:
        # an unterminated construct: text up to the next `>` (or `<`)
        k = html.find(">", i + 1)
        if k < 0:
            k = html.find("<", i + 1)
            if k < 0:
                k = i + 1
        else:
            k += 1
        out.append(_text(unescape(html[i:k])))
    return out, k


def _exact_starttag(html: str, i: int, out: list) -> int:
    """parse_starttag (+ the CDATA content of script/style)."""
    # check_for_whole_start_tag
    j = _locatestarttagend_tolerant(html, i).end()
    nxt = html[j:j + 1]
    if nxt == ">":
        endpos = j + 1
    elif nxt == "/":
        if not html.startswith("/>", j):
            return -1
        endpos = j + 2
    elif nxt == "" or nxt in ("abcdefghijklmnopqrstuvwxyz=/"
                              "ABCDEFGHIJKLMNOPQRSTUVWXYZ"):
        return -1
    else:
        endpos = j if j > i else i + 1

    m = _tagfind_tolerant(html, i + 1)
    name = m.group(1)
    attrs, k = _parse_attrs(html, m.end(), endpos)
    end = html[k:endpos].strip()
    if end not in (">", "/>"):
        out.append(_text(html[i:endpos]))
        return endpos
    if end.endswith("/>"):
        out.append(("", name, attrs, "/", "", "", ""))
        return endpos
    out.append(("", name, attrs, "", "", "", ""))
    elem = name.lower()
    if elem not in _CDATA_CLOSE:
        return endpos
    # CDATA mode: raw text up to the close pattern. A close the end-tag
    # pattern does not match (a non-ASCII letter matched case-insensitively,
    # `</ſcript>`) is text too; where it matches, it reads this element's
    # name, so parse_endtag's name comparison never fails here
    close = _CDATA_CLOSE[elem].search
    k = endpos
    while True:
        m = close(html, k)
        if m is None:
            return len(html)
        j = m.start()
        if k < j:
            out.append(_text(html[k:j]))
        gtpos = m.end()  # its `>` is the first after j: parse_endtag's
        em = _endtagfind(html, j)
        if em is None:
            out.append(_text(html[j:gtpos]))
            k = gtpos
            continue
        out.append(("", "", "", "", em.group(1), "", ""))
        return gtpos


def _exact_endtag(html: str, i: int, out: list) -> int:
    """parse_endtag outside CDATA mode."""
    m = _endendtag.search(html, i + 1)
    if not m:
        return -1
    gtpos = m.end()
    m = _endtagfind(html, i)
    if m:
        out.append(("", "", "", "", m.group(1), "", ""))
        return gtpos
    namematch = _tagfind_tolerant(html, i + 2)
    if not namematch:  # `</>` included: nothing up to the `>`
        return _bogus_comment_end(html, i)
    out.append(("", "", "", "", namematch.group(1), "", ""))
    return html.find(">", namematch.end()) + 1


def _bogus_comment_end(html: str, i: int) -> int:
    pos = html.find(">", i + 2)
    return -1 if pos == -1 else pos + 1


def _declaration_end(html: str, i: int) -> int:
    """parse_html_declaration after `<!` (not `<!--`)."""
    if html[i:i + 3] == "<![":
        # _markupbase.parse_marked_section
        j = i + 3
        if j == len(html):
            return -1
        m = _declname_match(html, j)
        if not m:
            raise AssertionError(
                "expected name token at %r" % html[i:i + 20])
        if j + len(m.group()) == len(html):
            return -1
        sect = m.group().strip().lower()
        if sect in {"temp", "cdata", "ignore", "include", "rcdata"}:
            m2 = _markedsectionclose.search(html, i + 3)
        elif sect in {"if", "else", "endif"}:
            m2 = _msmarkedsectionclose.search(html, i + 3)
        else:
            raise AssertionError(
                "unknown status keyword %r in marked section"
                % html[i + 3:m.end()])
        return m2.end() if m2 else -1
    if html[i:i + 9].lower() == "<!doctype":
        gtpos = html.find(">", i + 9)
        return -1 if gtpos == -1 else gtpos + 1
    return _bogus_comment_end(html, i)


# -- block builder -------------------------------------------------------------

def _is_boiler_attrs(attrs) -> bool:
    for name, value in attrs:
        if name in ("class", "id", "role") and value:
            if name == "role" and value.lower() in ("navigation", "banner",
                                                    "contentinfo", "complementary"):
                return True
            if name != "role" and BOILERPLATE_CLASS_RE.search(value):
                return True
    return False


def _cell_meta(tag: str, attrs) -> tuple[bool, int, int]:
    """(is_header, colspan, rowspan) of a td/th — the rich Cell model
    (reference types.py:161-198; TATR's spanning-cell label 5)."""
    amap = dict(_attr_list(attrs)) if attrs else {}

    def _span(key):
        try:
            return max(1, int(str(amap.get(key, "1")).strip()))
        except (TypeError, ValueError):
            return 1

    return tag == "th", _span("colspan"), _span("rowspan")


def _add_block(blocks: list, parts: list, tag: str, link_chars: int,
               n_tags: int, boiler: bool) -> None:
    text = _collapse_ws("".join(parts))
    if text:
        blocks.append({
            "index": len(blocks),
            "tag": tag,
            "text": text,
            "n_chars": len(text),
            "link_chars": min(link_chars, len(text)),
            "n_tags": n_tags,
            "boiler": boiler,
        })


def _scan(html: str) -> tuple[str, list[dict], list[dict]]:
    """One pass over the document -> (title, raw blocks, tables).

    Raw blocks are {index, tag, text, n_chars, link_chars, n_tags,
    boiler}; link_chars sums the collapsed length of each text chunk read
    inside <a>, so chunk boundaries are part of the output.
    """
    stack: list[tuple[str, bool]] = []  # (tag, opened_boilerplate)
    strip_depth = 0      # > 0 while inside a STRIP_TAGS subtree
    boiler_depth = 0     # > 0 while inside a boilerplate container
    link_depth = 0       # > 0 while inside <a>
    title_parts: list[str] = []
    in_title = False
    # table capture
    table_depth = 0
    tables: list[dict] = []
    cur_rows: list[list[dict]] = []
    cur_cells: list[dict] = []
    cell_parts: list[str] = []
    cell_meta = (False, 1, 1)
    in_cell = False
    # block capture
    blocks: list[dict] = []
    buf: list[str] = []
    buf_link_chars = 0
    buf_tag = "div"
    buf_tags = 0  # inner tags seen in the current block (density)

    n = len(html)
    pos = 0
    n_exact = 0
    toks = None
    while True:
        if toks is None:
            if n_exact < _BATCH_LIMIT:
                toks, end = _tokens(html, pos), n
            else:
                m = _token(html, pos)
                toks, end = (m.groups(),), m.end()
        rest = None
        for data, stag, attrs, slash, etag, lt, text in toks:
            if text and not lt:
                data = text
            elif "&" in data:
                data = unescape(data)
            if data:
                # <title> lives inside <head> (a STRIP tag) — check first
                if in_title:
                    title_parts.append(data)
                elif strip_depth:
                    pass
                elif table_depth:
                    if in_cell:
                        cell_parts.append(data)
                else:
                    buf.append(data)
                    if link_depth:
                        buf_link_chars += len(_collapse_ws(data))

            if stag:
                tag = stag.lower()
                if tag in VOID_TAGS:  # never closed, `/>` or not
                    if tag == "br" and not strip_depth:
                        buf.append(" ")
                    continue
                if tag in STRIP_TAGS:
                    strip_depth += 1
                    stack.append((tag, False))
                elif tag == "title":
                    in_title = True
                    stack.append((tag, False))
                else:
                    boiler = tag in BOILERPLATE_CONTAINERS or (
                        bool(attrs) and _is_boiler_attrs(_attr_list(attrs)))
                    if boiler:
                        boiler_depth += 1
                    stack.append((tag, boiler))
                    if tag == "table" or (not table_depth and tag in BLOCK_TAGS):
                        if buf:
                            _add_block(blocks, buf, buf_tag, buf_link_chars,
                                       buf_tags, boiler_depth > 0)
                            buf = []
                        buf_link_chars = buf_tags = 0
                        if tag == "table":
                            table_depth += 1
                            if table_depth == 1:
                                cur_rows = []
                        else:
                            buf_tag = tag
                    elif table_depth:
                        if table_depth == 1:
                            if tag == "tr":
                                cur_cells = []
                            elif tag == "td" or tag == "th":
                                in_cell = True
                                cell_parts = []
                                cell_meta = _cell_meta(tag, attrs)
                    else:
                        if tag == "a":
                            link_depth += 1
                        # inline tag inside the current block: the text-
                        # density signal counts markup structure per block
                        # (chars / (1 + tags) — the boilerpipe-style
                        # density the layout classifier uses)
                        buf_tags += 1
                if not slash:
                    continue
            elif etag:
                tag = etag.lower()
                if tag in VOID_TAGS:
                    continue
            else:
                if lt:
                    rest = text
                continue

            # end tag: unwind the stack to the matching open tag (tolerate
            # bad nesting); fast path: the top of the stack matches
            if stack and stack[-1][0] == tag:
                closed = (stack.pop(),)
            else:
                for k in range(len(stack) - 1, -1, -1):
                    if stack[k][0] == tag:
                        break
                else:
                    continue
                closed = stack[k:]
                closed.reverse()
                del stack[k:]
            for base, was_boiler in closed:
                if base in STRIP_TAGS:
                    if strip_depth:
                        strip_depth -= 1
                elif base == "title":
                    in_title = False
                elif base == "a":
                    if link_depth:
                        link_depth -= 1
                if not table_depth and base in BLOCK_TAGS:
                    # flush while boiler_depth still reflects this subtree
                    if buf:
                        _add_block(blocks, buf, buf_tag, buf_link_chars,
                                   buf_tags, boiler_depth > 0)
                        buf = []
                    buf_link_chars = buf_tags = 0
                if was_boiler and boiler_depth:
                    boiler_depth -= 1
                if base == "table":
                    if table_depth == 1 and cur_rows:
                        tables.append(table_model.from_html_rows(cur_rows))
                        cur_rows = []
                    if table_depth:
                        table_depth -= 1
                if table_depth == 1:
                    if base == "tr":
                        if cur_cells:
                            cur_rows.append(cur_cells)
                            cur_cells = []
                    elif (base == "td" or base == "th") and in_cell:
                        cur_cells.append({"text": _collapse_ws("".join(cell_parts)),
                                          "is_header": cell_meta[0],
                                          "colspan": cell_meta[1],
                                          "rowspan": cell_meta[2]})
                        in_cell = False

        if rest is not None:  # a `<` the fast token does not cover
            n_exact += 1
            toks, end = _exact_token(html, end - 1 - len(rest))
        elif end < n:
            toks, pos = None, end
        else:
            break

    if buf:  # trailing text
        _add_block(blocks, buf, buf_tag, buf_link_chars, buf_tags,
                   boiler_depth > 0)
    return _collapse_ws("".join(title_parts)), blocks, tables


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
    title, raw_blocks, tables = _scan(html)

    blocks = []
    content_blocks = []
    headings = []
    for blk in raw_blocks:
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
        "tables": tables,
    }
