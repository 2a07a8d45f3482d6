"""Local replica of the driver's correctness gate: run every queries() entry
on Spark AND its oracle_sql() on DuckDB over the same sf dir; compare
row count, column names, and an order-insensitive value hash.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys

import duckdb

sys.path.insert(0, ".")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(value) -> str:
    import datetime
    import math

    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return f"{value:.10g}"
    if isinstance(value, (datetime.datetime, datetime.date)):
        return value.isoformat()
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(canon(v) for v in value) + "]"
    return str(value)


def table_hash(rows, colnames) -> tuple[int, str]:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "|".join(canon(row[i]) for i in order) for row in rows
    )
    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return len(lines), h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from horizon_ocr_python_spark.engine.session import build_session

    qs, oracles = entry.queries(), entry.oracle_sql()
    spark = build_session(master="local[8]", app_name="oracle-check",
                          shuffle_partitions=16)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"SKIP  {name}: no oracle (rows={len(s_rows)})")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue

        ok = True
        if sorted(s_cols) != sorted(d_cols):
            print(f"FAIL  {name}: columns spark={s_cols} duckdb={d_cols}")
            ok = False
        else:
            sn, sh = table_hash(s_rows, s_cols)
            dn, dh = table_hash(d_rows, d_cols)
            if sn != dn:
                print(f"FAIL  {name}: rows spark={sn} duckdb={dn}")
                ok = False
            elif sh != dh:
                print(f"FAIL  {name}: value hash mismatch ({sn} rows)")
                s_set = {tuple(canon(v) for v in r) for r in s_rows}
                d_set = {tuple(canon(v) for v in r) for r in d_rows}
                for r in list(s_set - d_set)[:3]:
                    print(f"      spark-only: {r}")
                for r in list(d_set - s_set)[:3]:
                    print(f"      duck-only:  {r}")
                ok = False
        if ok:
            print(f"OK    {name}: {len(s_rows)} rows match")
        else:
            failures.append(name)

    n = len(only) if only else len(qs)
    print(f"\n{n - len(failures)}/{n} passed")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
