"""Rich Table/Cell span model (round-3): HTML colspan/rowspan capture,
span-aware accessors (reference types.py:161-198), markdown rendering, and
the engine schema threading."""

from horizon_ocr_python_spark.kernel import (document, html_extract,
                                             markdown, table_model)

MERGED = b"""<html><body><main><article>
<p>Some body paragraph with enough characters to be content.</p>
<table>
<tr><th colspan="2">Invoice</th><th>Q3</th></tr>
<tr><td rowspan="2">Widget</td><td>A</td><td>1</td></tr>
<tr><td>B</td><td>2</td></tr>
</table></article></main></body></html>"""


class TestHtmlSpans:
    def test_colspan_rowspan_grid(self):
        t = html_extract.extract_html(MERGED)["tables"][0]
        assert (t["n_rows"], t["n_cols"]) == (3, 3)
        assert t["rows"] == [["Invoice", "Invoice", "Q3"],
                             ["Widget", "A", "1"],
                             ["Widget", "B", "2"]]
        spans = {(c["row"], c["col"]): (c["row_span"], c["col_span"])
                 for c in t["cells"]}
        assert spans[(0, 0)] == (1, 2)
        assert spans[(1, 0)] == (2, 1)
        assert len(t["cells"]) == 7  # merged slots are single cells

    def test_header_flag(self):
        t = html_extract.extract_html(MERGED)["tables"][0]
        headers = [c["text"] for c in t["cells"] if c["is_header"]]
        assert headers == ["Invoice", "Q3"]

    def test_junk_span_attrs_tolerated(self):
        html = (b"<html><body><table><tr><td colspan='x' rowspan='-3'>a</td>"
                b"<td>b</td></tr></table></body></html>")
        t = html_extract.extract_html(html)["tables"][0]
        assert t["rows"] == [["a", "b"]]


class TestAccessors:
    def _t(self):
        return html_extract.extract_html(MERGED)["tables"][0]

    def test_get_cell_resolves_coverage(self):
        t = self._t()
        assert table_model.get_cell(t, 0, 1)["text"] == "Invoice"
        assert table_model.get_cell(t, 2, 0)["text"] == "Widget"
        assert table_model.get_cell(t, 2, 2)["text"] == "2"
        assert table_model.get_cell(t, 5, 5) is None

    def test_row_col_texts(self):
        t = self._t()
        assert table_model.get_row_texts(t, 0) == ["Invoice", "Invoice", "Q3"]
        assert table_model.get_col_texts(t, 0) == ["Invoice", "Widget", "Widget"]


class TestMarkdownSpans:
    def test_anchor_only_rendering(self):
        t = html_extract.extract_html(MERGED)["tables"][0]
        md = markdown.render_table_spans_md(t)
        lines = md.splitlines()
        assert lines[0] == "| Invoice |  | Q3 |"       # covered slot empty
        assert lines[2] == "| Widget | A | 1 |"
        assert lines[3] == "|  | B | 2 |"              # rowspan slot empty

    def test_no_cells_falls_back(self):
        assert markdown.render_table_spans_md({"rows": [["x", "y"]]}) == \
            markdown.render_table_md([["x", "y"]])


class TestPipelineThreading:
    def test_document_carries_cells(self):
        doc = document.extract_document("https://x/t.html", MERGED)
        t = doc["tables"][0]
        assert len(t["cells"]) == 7
        assert t["rows"][0] == ["Invoice", "Invoice", "Q3"]

    def test_engine_row_shape(self):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from horizon_ocr_python_spark.engine.extract import _doc_to_row
        from horizon_ocr_python_spark.engine.schema import DOCUMENT_SCHEMA

        doc = document.extract_document("https://x/t.html", MERGED)
        row = pa.RecordBatch.from_pylist(
            [_doc_to_row("https://x/t.html", None, "", doc, "k", 0, 0.0)],
            schema=to_arrow_schema(DOCUMENT_SCHEMA)).to_pylist()[0]
        table = row["tables"][0]
        assert table["n_rows"] == 3 and table["n_cols"] == 3
        assert table["cells"][0]["col_span"] == 2
        assert table["cells"][0]["bbox"] is None
