"""Order-insensitive answer digests, computed in DuckDB for both sides.

A digest is (sorted column names, row count, md5 of the sorted canonical
rows). A canonical row joins its values in column-name order, each cast to
VARCHAR, with NULL and NaN both written as NULL; the rows are sorted before
hashing, so row order and column order do not matter. This is the rule the
repo's DuckDB compare applies, pushed into SQL so large answers are cheap.
"""
import json
import os

import duckdb

from gen import TABLES


def _connect():
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    con.sql("SET enable_progress_bar = false")
    return con


def connect(data_dir):
    con = _connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def digest(con, sql):
    rel = con.sql(sql)
    cols = sorted(zip(rel.columns, rel.types), key=lambda ct: ct[0])
    parts = []
    for name, typ in cols:
        c = f'"{name}"'
        if str(typ) in ("FLOAT", "DOUBLE"):
            c = f"CASE WHEN isnan({c}) THEN NULL ELSE {c} END"
        parts.append(f"coalesce(CAST({c} AS VARCHAR), 'NULL')")
    row = " || '|' || ".join(parts) if parts else "''"
    n, h = con.sql(
        f"SELECT count(*), md5(coalesce(string_agg(r, chr(10) ORDER BY r), '')) "
        f"FROM (SELECT {row} AS r FROM ({sql}))").fetchone()
    return [[c for c, _ in cols], n, h]


def oracle(data_dir, sql_by_query, cache_file):
    """Digest of each query's DuckDB oracle answer, cached per input."""
    cached = {}
    if os.path.exists(cache_file):
        with open(cache_file) as f:
            cached = json.load(f)
    todo = {q: s for q, s in sql_by_query.items() if q not in cached}
    if todo:
        con = connect(data_dir)
        for q, sql in sorted(todo.items()):
            try:
                cached[q] = digest(con, sql)
            except duckdb.Error as e:
                cached[q] = f"oracle error: {str(e)[:200]}"
        tmp = cache_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cached, f)
        os.replace(tmp, cache_file)
    return {q: cached[q] for q in sql_by_query}


def answers(answer_dir, names):
    """Digest of each answer the engine wrote as parquet under answer_dir."""
    con = _connect()
    return {q: digest(con, f"SELECT * FROM '{answer_dir}/{q}/*.parquet'") for q in names}
