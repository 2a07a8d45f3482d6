"""Markdown report renderer — the S6 sink (docvision/io/markdown.py:379-457).

Same section structure and formatting helpers as the reference
(confidence badges markdown.py:21-29, pct markdown.py:32-34, size formatting
markdown.py:69-75, pipe-escaping markdown.py:368+), but the generation
timestamp is injectable (the reference stamps datetime.now at
markdown.py:394 — a non-determinism source we neutralize per SURVEY §7.5).

Runs per row inside the engine's Arrow row map (operators/arrow_ops.
s6_markdown_render) over a Document-shaped dict.
"""

from __future__ import annotations

from typing import Any, Optional


def conf_badge(confidence: float) -> str:
    """Emoji badge by confidence (markdown.py:21-29)."""
    if confidence >= 0.9:
        return "🟢"
    if confidence >= 0.7:
        return "🟡"
    if confidence >= 0.5:
        return "🟠"
    return "🔴"


def pct(confidence: float) -> str:
    """Percent string (markdown.py:32-34)."""
    return f"{confidence * 100:.1f}%"


def format_size(size_bytes: int) -> str:
    """Human-readable size (markdown.py:69-75)."""
    if size_bytes < 1024:
        return f"{size_bytes} B"
    if size_bytes < 1024 * 1024:
        return f"{size_bytes / 1024:.1f} KB"
    return f"{size_bytes / (1024 * 1024):.2f} MB"


def escape_md(text: str) -> str:
    """Escape pipes/newlines for markdown table cells (markdown.py:368+)."""
    return str(text).replace("|", "\\|").replace("\n", " ")


def render_table_md(rows: list[list[str]]) -> str:
    """Render a cell grid as a GFM table; first row is the header."""
    if not rows:
        return ""
    width = max(len(r) for r in rows)
    out = []
    header = rows[0] + [""] * (width - len(rows[0]))
    out.append("| " + " | ".join(escape_md(c) for c in header) + " |")
    out.append("|" + "---|" * width)
    for row in rows[1:]:
        padded = row + [""] * (width - len(row))
        out.append("| " + " | ".join(escape_md(c) for c in padded) + " |")
    return "\n".join(out)


def render_table_spans_md(table: dict) -> str:
    """Span-aware GFM rendering: GFM has no colspan/rowspan, so each
    spanning cell's text appears once at its ANCHOR slot and the covered
    slots render empty — merged-cell structure stays visible instead of
    being silently duplicated. Tables without a cells list fall back to
    the flat grid."""
    cells = table.get("cells")
    if not cells:
        return render_table_md(table.get("rows", []))
    n_rows = table.get("n_rows", 0)
    n_cols = table.get("n_cols", 0)
    grid = [["" for _ in range(n_cols)] for _ in range(n_rows)]
    for c in cells:
        if c["row"] < n_rows and c["col"] < n_cols:
            grid[c["row"]][c["col"]] = c.get("text", "")
    return render_table_md(grid)


def generate_markdown(doc: dict[str, Any], generated_at: Optional[str] = None) -> str:
    """Render one extracted Document dict to a Markdown report.

    Section order mirrors generate_markdown (markdown.py:379-457): title,
    metadata table, per-page sections (raw text), document tables, fields
    table with badges, validation summary, footer.
    """
    parts: list[str] = []
    meta = doc.get("metadata") or {}
    url = meta.get("url", meta.get("filename", "document"))
    parts.append(f"# Extraction Report — `{url}`\n")
    if generated_at:
        parts.append(f"> Generated on {generated_at}\n")
    parts.append("---\n")

    parts.append("\n".join([
        "## Document Information\n",
        "| Property | Value |",
        "|----------|-------|",
        f"| **URL** | `{url}` |",
        f"| **Content Type** | {meta.get('file_type', 'N/A')} |",
        f"| **Size** | {format_size(meta.get('file_size_bytes', 0))} |",
        f"| **Language** | {meta.get('lang', 'N/A')} |",
        f"| **Page Count** | {doc.get('page_count', 0)} |",
        "",
    ]))

    title = doc.get("title") or ""
    if title:
        parts.append(f"## Title\n\n> {escape_md(title)}\n")

    for page in doc.get("pages", []):
        parts.append(f"---\n\n## Page {page.get('number', '?')}\n")
        raw = page.get("raw_text", "")
        if raw:
            parts.append("### Extracted Text\n\n```\n" + raw + "\n```\n")

    tables = doc.get("tables", [])
    if tables:
        parts.append("---\n\n## Tables\n")
        for i, table in enumerate(tables, 1):
            parts.append(f"### Table {i}\n")
            parts.append(render_table_spans_md(table) + "\n")

    fields = doc.get("fields", [])
    if fields:
        parts.append("---\n\n## Extracted Fields\n")
        lines = ["| Field | Value | Type | Confidence | Status |",
                 "|-------|-------|------|------------|--------|"]
        for f in fields:
            lines.append(
                f"| {escape_md(f.get('name', ''))} "
                f"| {escape_md(f.get('value', ''))} "
                f"| {f.get('data_type', 'string')} "
                f"| {conf_badge(f.get('confidence', 0.0))} {pct(f.get('confidence', 0.0))} "
                f"| {f.get('status', '')} |"
            )
        parts.append("\n".join(lines) + "\n")

    validation = doc.get("validation")
    if validation:
        parts.append("---\n\n## Validation\n")
        parts.append(
            f"- **Passed:** {validation.get('passed', False)}\n"
            f"- **Checks:** {validation.get('passed_checks', 0)}/"
            f"{validation.get('total_checks', 0)}\n"
        )
        issues = validation.get("issues") or []
        if issues:
            parts.append("### Issues\n" + "\n".join(f"- {escape_md(i)}" for i in issues) + "\n")

    parts.append("---\n")
    parts.append("*Report generated by horizon_ocr_python_spark*\n")
    return "\n".join(p for p in parts if p)
