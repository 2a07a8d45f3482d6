"""No production-dead code in the package: every top-level `def`/`class`
under horizon_ocr_python_spark/ is reachable from a file outside tests/,
or is named in KEPT with the reason it stays.

The scan is token-level and transitive. Roots are every other .py file
outside a tests/ directory (tools/, perfbench/, bench.py,
__spark_entry__.py) and the module-level code of every package module;
the body of a reachable definition reaches every name it mentions. A name
is a NAME token (a string or comment does not count) or a `{name`
reference inside an f-string, which is how the operators splice SQL
fragments. Names are
matched without their module, so two definitions that share a name live
or die together: the scan errs towards keeping code.

A definition that only tests call is either deleted, moved into tests/,
or listed in KEPT against the COVERAGE.md row it is reference parity for.
"""

from __future__ import annotations

import ast
import functools
import io
import re
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "horizon_ocr_python_spark"

# Kept without a production caller: module (path under the package, no
# ".py") or "module:symbol" -> the COVERAGE.md row it is reference parity
# for, or "perfbench generator source" (perfbench keys its input pool on
# those files, so editing them re-keys every pin).
KEPT = {
    "engine/cost_tracker": "C2",
    "engine/response_cache": "C4",
    "kernel/azure_map": "C5/R7",
    "engine/azure_stage": "C5",
    "kernel/artifacts": "S7",
    "engine/artifacts": "S7",
    "kernel/crops": "D14",
    "kernel/classifier_route": "K11",
    "kernel/bio": "K4",
    "sources/models": "S8",
    "sources/warc": "WARC/1.0 container",
    "streaming/stream": "§2.9 streaming",
    "streaming/stateful": "§2.9 streaming",
    "kernel/config:load_config": "C7",
    "engine/checkpoint:compact": "C1",
    "engine/extract:extracted_metrics": "C2",
    "kernel/validators:validate_currency": "V4",
    "kernel/reading_order:cluster_positions_1d": "D12/D13",
    "kernel/table_model:get_col_texts": "D12/D13",
    "kernel/fuse:boxes_overlap": "K8",
    "kernel/style_merge:match_span": "R6",
    "kernel/style_merge:merge_pdf_styles_with_ocr": "R6",
    "sources/pages:pages_spark_rows": "perfbench generator source",
    "kernel/pdf_text:build_pdf": "perfbench generator source",
}

_FSTRING_REF = re.compile(r"\{([A-Za-z_]\w*)")


def _names(source: str) -> set[str]:
    """NAME tokens of `source`, plus `{name` references in f-strings."""
    out = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type == tokenize.NAME:
            out.add(tok.string)
        elif tok.type == tokenize.STRING:
            prefix = tok.string[:tok.string.index(tok.string[-1])]
            if "f" in prefix.lower():
                out.update(_FSTRING_REF.findall(tok.string))
    return out


def _scan() -> tuple[dict[str, set[str]], set[str]]:
    """({"module:symbol": names its body mentions}, root names)."""
    defs: dict[str, set[str]] = {}
    roots: set[str] = set()
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if "tests" in rel.parts or rel.parts[0].startswith("."):
            continue
        source = path.read_text(encoding="utf-8")
        if not path.is_relative_to(PACKAGE):
            roots |= _names(source)
            continue
        module = path.relative_to(PACKAGE).with_suffix("").as_posix()
        lines = source.splitlines(keepends=True)
        covered = set()
        for node in ast.parse(source).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                first = min([node.lineno] + [d.lineno for d in
                                             node.decorator_list])
                span = range(first - 1, node.end_lineno)
                covered.update(span)
                body = "".join(lines[i] for i in span)
                # the def line names the symbol itself: not a caller
                defs[f"{module}:{node.name}"] = _names(body) - {node.name}
        roots |= _names("".join(
            line if i not in covered else "\n"
            for i, line in enumerate(lines)))
    return defs, roots


def _reached(defs: dict[str, set[str]], names: set[str]) -> set[str]:
    """Definitions reachable from `names`, following definition bodies."""
    names = set(names)
    live: set[str] = set()
    changed = True
    while changed:
        changed = False
        for key, body in defs.items():
            if key not in live and key.split(":")[1] in names:
                live.add(key)
                names |= body
                changed = True
    return live


def _kept(key: str) -> bool:
    return key in KEPT or key.split(":")[0] in KEPT


@functools.cache
def _test_only() -> tuple[set[str], set[str]]:
    """(definitions without a production caller, definitions reached once
    each KEPT entry's body counts as a root, so KEPT reaches its helpers)."""
    defs, roots = _scan()
    test_only = set(defs) - _reached(defs, roots)
    kept_reach = _reached(defs, roots.union(
        *(body for key, body in defs.items() if _kept(key))))
    return test_only, kept_reach


def test_every_definition_has_a_production_caller():
    test_only, kept_reach = _test_only()
    unexplained = sorted(k for k in test_only
                         if not _kept(k) and k not in kept_reach)
    assert unexplained == [], (
        "only tests reach these; delete them, move them into tests/, or "
        "name their COVERAGE row in KEPT: " + ", ".join(unexplained))


def test_kept_entries_still_lack_a_caller():
    """Each KEPT entry names existing code that is still test-only; once
    production calls it, its entry goes."""
    test_only, _ = _test_only()
    stale = [entry for entry in KEPT
             if not any(k == entry or k.split(":")[0] == entry
                        for k in test_only)]
    assert stale == [], stale
