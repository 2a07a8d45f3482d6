"""The operators that cross into Python — per-row functions in
`engine.schema.map_rows` and the banding Arrow UDF behind the LSH
operators — against their DuckDB oracles at sf0.001: same column names,
same row count, same order-insensitive value hash (the canon/table_hash
of tools/check_oracles.py, the local replica of the correctness gate)."""

import duckdb
import pytest

import __spark_entry__ as entry
from test_plan_shape import SF  # the sf0.001 test tables
from tools.check_oracles import TABLES, table_hash

ORACLE_CHECKED = ["k1_parse_tagged", "token_count_arrow", "multimodal_meta",
                  "o7_reocr_pass", "lsh_ann_topk", "embedding_cosine_pairs",
                  "cosine_topk"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_matches_oracle(spark, duck, name):
    sdf = entry.queries()[name](spark, SF)
    res = duck.execute(entry.oracle_sql()[name])
    d_cols = [d[0] for d in res.description]
    assert sorted(sdf.columns) == sorted(d_cols)
    got = table_hash([tuple(r) for r in sdf.collect()], sdf.columns)
    want = table_hash(res.fetchall(), d_cols)
    assert got[0] > 0
    assert got == want


def test_s6_markdown_render_rows_and_columns(spark, duck):
    """s6 has no oracle (markdown structure is not SQL-expressible): one
    row per document with the rendered report's length and sections."""
    df = entry.queries()["s6_markdown_render"](spark, SF)
    assert df.columns == ["doc_id", "md_chars", "has_info_section",
                          "has_title_section"]
    rows = df.collect()
    doc_ids = [r[0] for r in duck.execute(
        "SELECT doc_id FROM documents ORDER BY doc_id").fetchall()]
    assert [r.doc_id for r in rows] == doc_ids
    assert all(r.md_chars > 0 and r.has_info_section for r in rows)
