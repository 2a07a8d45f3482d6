"""Differential tests: the HTML kernel's scanner against the stdlib
`HTMLParser` subclass it replaced (tests/html_oracle.py).

`html_extract._scan` must return exactly what the oracle returns — title,
raw blocks (text, tag, link_chars, n_tags, boilerplate flag) and tables —
or raise the same exception, on every input: the corpus pages, the
benchmark's scale-8 pages, the pages of the other HTML tests and fuzzed
malformed fragments. `extract_html` classifies the scanner's blocks, so
equal scans give equal extractions; one test checks that end to end.
"""

from __future__ import annotations

import ast
import itertools
import random
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from horizon_ocr_python_spark.kernel import html_extract
from horizon_ocr_python_spark.sources import pages as pages_gen

from html_oracle import oracle_scan

ROOT = Path(__file__).resolve().parents[1]


def _outcome(fn, html: str):
    try:
        return fn(html)
    except Exception as exc:  # noqa: BLE001 — compared, not swallowed
        return ("raised", type(exc).__name__, str(exc))


def _mismatches(docs) -> list[str]:
    return [d for d in docs
            if _outcome(html_extract._scan, d) != _outcome(oracle_scan, d)]


def _html_indices(n_pages: int, seed: int = 42) -> list[int]:
    """Indices of make_page's HTML pages among the first `n_pages`: the
    kind is its first draws (host, language, kind), so the raster pages
    need not be built to be skipped."""
    out = []
    for i in range(n_pages):
        rng = random.Random((seed << 20) ^ i)
        pages_gen._host_for(i, 50, rng)
        pages_gen._pick_lang(rng)
        if rng.random() >= 0.15:
            out.append(i)
    return out


def _pages(indices, scale: int) -> list[str]:
    docs = []
    for i in indices:
        p = pages_gen.make_page(i, seed=42, scale=scale)
        assert p["kind"] == "html", (i, p["kind"])
        docs.append(p["html"].decode("utf-8", errors="replace"))
    return docs


class TestCorpus:
    def test_digest_corpus_html_pages(self):
        # the 3000-page corpus tools/extract_digest.py pins
        indices = _html_indices(3000)
        assert len(indices) > 2400
        assert _mismatches(_pages(indices, scale=1)) == []

    def test_scale8_pages(self):
        # html_recrawl's pages: the corpus's HTML indices at scale 8
        assert _mismatches(_pages(_html_indices(3000)[:400], scale=8)) == []

    def test_extract_html_equal_end_to_end(self, monkeypatch):
        docs = _pages(_html_indices(200), scale=1)
        got = [html_extract.extract_html(d) for d in docs]
        monkeypatch.setattr(html_extract, "_scan", oracle_scan)
        assert got == [html_extract.extract_html(d) for d in docs]


def _test_file_pages() -> list[str]:
    """Every HTML literal (and literal-only expression, like
    `b"<div>" * 300 + ...`) in the other HTML kernel tests."""
    out = []
    for path in sorted(ROOT.glob("tests/test_kernel_html*.py")):
        if path.name == Path(__file__).name:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, (ast.Constant, ast.BinOp)):
                continue
            if not all(isinstance(n, (ast.Constant, ast.BinOp, ast.operator))
                       for n in ast.walk(node)):
                continue
            try:
                value = eval(compile(ast.Expression(node), str(path), "eval"))
            except TypeError:
                continue
            if isinstance(value, bytes):
                value = value.decode("utf-8", errors="replace")
            if isinstance(value, str) and "<" in value:
                out.append(value)
    return out


class TestHtmlTestPages:
    def test_pages_of_html_tests(self):
        docs = _test_file_pages()
        assert len(docs) > 20
        assert _mismatches(docs) == []


# Fragments that take every branch of HTMLParser.goahead and of the
# scanner's exact path, also at the end of input.
FRAGMENTS = [
    "</>", "</ p>", "<a<b>", "<1>", "<p/>", "<br/>", "<br>", "<", "<<", "<!--",
    "-->", "<!-- c -->", "<!---->", "<![CDATA[", "]]>", "<![CDATA[x]]>",
    "<![if IE]>", "<![endif]>", "<![foo[", "<![ ", "<?pi>", "<?", "<!x>",
    "<!>", "<!", "</", "<!DOCTYPE html>", "<!doctype", "<P>", "</P>",
    "<DIV CLASS='nav'>", "<div class=\"content\">", "<div id=sidebar>",
    "<div role=navigation>", "<div role='Banner'>", "</div>",
    "<a title='x>y'>", "<a title=\"a>b\" href=/x>", "<a href=/x/>",
    "<a href=x />", "<p class=a class=nav>", "<p class=nav class=a>",
    "<td colspan=2 rowspan=x>", "<TD COLSPAN='3'>", "<th rowspan=\" 2 \">",
    "<td colspan>", "<input disabled/>", "<x =y>", "<x a==b>",
    "<x a = 'b'>", "<a/ >", "<a b='", "<a b=\"", "<a\x0bb>", "<p\xa0class=x>",
    "<a x=\"1\"y=\"2\">", "<a class=&quot;nav&quot;>", "<a\n href='/q'\n>",
    "</p foo>", "</a\n>", "</ſcript>", "</scrİpt>",
    "<script>", "<SCRIPT type=x>", "</script>", "</SCRIPT >", "<script/>",
    "<style>", "</style>", "<title>", "</title>", "<TITLE>", "<head>",
    "</head>", "<table>", "</table>", "<tr>", "</tr>", "<td>", "</td>",
    "<th>", "</th>", "<li>", "</li>", "<a>", "</a>", "<nav>", "</nav>",
    "<aside>", "</aside>", "<p>", "</p>", "<h1>", "</h1>", "<svg>", "</svg>",
    "&", "& ", "&amp", "&amp;", "&#65;", "&#x41", "&#1;", "&nbsp;", "&lt;p&gt;",
    "&#xD800;", "&unknown;", "text ", "Lorem ipsum dolor ", " ", "\n", "\t",
    "<a\x00>", "</1>", "<a b='x'\"c>",
    # pieces of start tags, so attributes meet every kind of tag end
    "<a", "<td", "<DIV", "<p", " b=x", " b", " class=nav", " ID='menu'",
    " colspan=2", " rowspan='2'", " c='y>'", "=", "\x0c", "\x00", "/", "/>",
    ">",
]


@st.composite
def _documents(draw):
    parts = draw(st.lists(st.one_of(
        st.sampled_from(FRAGMENTS),
        st.text(alphabet="<>/!-?&;#=\"' \n\t\x0b\x00abp[]", max_size=6)),
        max_size=40))
    return "".join(parts)


class TestFuzz:
    @given(_documents())
    @settings(max_examples=700, deadline=None, derandomize=True)
    def test_malformed_fragments(self, html):
        assert _outcome(html_extract._scan, html) == _outcome(oracle_scan, html)

    @given(st.text(alphabet="<>/!-?&;#xa=\"' \n\t\x00[]", max_size=60))
    @settings(max_examples=1000, deadline=None, derandomize=True)
    def test_markup_characters(self, html):
        assert _outcome(html_extract._scan, html) == _outcome(oracle_scan, html)

    @given(st.tuples(
        st.sampled_from(["a", "p", "DIV", "td", "script", "br", "x1", "a:b",
                         "a\x0b", "title"]),
        st.lists(st.tuples(
            st.sampled_from([" ", "\t", "\n", "\x0c", "\x0b", "\xa0", "/",
                             " / ", ""]),
            st.sampled_from(["b", "class", "ID", "role", "colspan", "data-x",
                             "x:y", "=b", "'q'", "b\xa0c"]),
            st.sampled_from(["", "=", " = ", "==", "=\t"]),
            st.sampled_from(["x", "nav", "'nav menu'", '"a>b"', "'", '"',
                             "x/", "/x/", "x\t", "&amp;", "navigation", "2",
                             "'x'y", ""])), max_size=3),
        st.sampled_from(["", " ", "\t", "/", " /", "\x0b", "\xa0", "\x00"]),
        st.sampled_from([">", "/>", "", " >"])))
    @settings(max_examples=500, deadline=None, derandomize=True)
    def test_start_tags(self, parts):
        name, attrs, tail, end = parts
        tag = "<" + name + "".join(map("".join, attrs)) + tail + end
        html = f"<p>before {tag}inside</{name}> after</p><p>next</p>"
        assert _outcome(html_extract._scan, html) == _outcome(oracle_scan, html)

    def test_start_tag_grammar(self):
        """Every tag of a small grammar around one attribute, inside a
        link-density context where a misread tag end changes the blocks."""
        bad = []
        for name, sep, attr, eq, value, tail, end in itertools.product(
                ["a", "td", "script"], [" ", "\t", "\x0b", "\xa0", ""],
                ["b", "class"], ["", "=", " = ", "=="],
                ["x", "nav", "'nav'", '"a>b"', "x/", "&amp;", "'"],
                ["", " ", "\t", "/", "\x0b", "\x00"], [">", "/>", ""]):
            tag = f"<{name}{sep}{attr}{eq}{value}{tail}{end}"
            html = f"<p>before {tag}inside</{name}> after</p><p>next</p>"
            if _outcome(html_extract._scan, html) != _outcome(oracle_scan, html):
                bad.append(tag)
        assert bad == []

    @given(st.lists(st.lists(st.tuples(
        st.sampled_from(["td", "th", "TD"]),
        st.sampled_from(["", " colspan=2", " ROWSPAN='3'", " colspan=0",
                         " colspan=x", " colspan", " rowspan=' 2 '",
                         " colspan=2 colspan=3", " class=nav colspan=2",
                         " colspan=\"1_0\""]),
        st.sampled_from(["a", "", "b &amp; c", "<p>x</p>", "<table>"])),
        max_size=4), max_size=4))
    @settings(max_examples=300, deadline=None, derandomize=True)
    def test_table_cells(self, rows):
        html = "<table>" + "".join(
            "<tr>" + "".join(f"<{t}{a}>{body}</{t}>" for t, a, body in row)
            + "</tr>" for row in rows) + "</table>"
        assert _outcome(html_extract._scan, html) == _outcome(oracle_scan, html)

    @pytest.mark.parametrize("html", [
        "a < b < c " * 40 + "<p>tail</p>",   # past the batch limit
        "<p>x</p>" + "</ p>" * 40,
        "<title>t<script>raw & <b></script>",
        "<p>unclosed <script>var s = '</p>';",
        "<p>bare & at the end &",
        "<p>charref at the end &#65",
    ])
    def test_edge_documents(self, html):
        assert _outcome(html_extract._scan, html) == _outcome(oracle_scan, html)


def test_package_does_not_import_html_parser():
    for path in (ROOT / "horizon_ocr_python_spark").rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            elif isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            else:
                continue
            assert not any(n in ("html.parser", "_markupbase")
                           for n in names), path
