"""Output checks of the benchmark, run with DuckDB outside the timed passes.

A query's output is canonicalized by `tools/check_oracle.py`'s `canon`:
sorted column names, row count, and an md5 over the rows rendered as
text and sorted. It must equal the canonical form of the query's DuckDB
oracle SQL over the same input tables, or, for a query without oracle
SQL, the golden fingerprint recorded in `golden.json`. The warehouse is
checked by per-table row counts, by every fact foreign key resolving in
its dimension, and by per-table fingerprints.
"""
import glob
import os
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
import check_oracle  # noqa: E402

# Keys a fact may hold without a dimension row: `Facts.factFacturacion`
# fills `empresa_id` with 0 for self-employed members (no employer).
NO_MEMBER = {"empresa_id": 0}


def connect(data_dir):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in check_oracle.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def canon(con, rel_sql):
    """[sorted columns, row count, md5 of the sorted rows], the repository's
    oracle-gate canonical form."""
    cols, n, h, _ = check_oracle.canon(con, rel_sql, "")
    return [cols, n, h]


def output_fingerprint(con, path):
    if not glob.glob(f"{path}/*.parquet"):
        raise RuntimeError(f"no output written under {os.path.basename(path)}")
    return canon(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")


def check_queries(con, ops, check_dir, golden):
    """Map op -> error for every operation whose check-pass output differs
    from its oracle or golden fingerprint; plus every fingerprint seen."""
    bad, seen = {}, {}
    for op in ops:
        name = op["name"]
        try:
            want = canon(con, op["oracle"]) if op["oracle"] else golden.get(name)
            seen[name] = got = output_fingerprint(con, f"{check_dir}/{name}")
        except Exception as e:  # an oracle or an output that cannot be read
            bad[name] = str(e)
            continue
        if want is None:
            bad[name] = "no oracle SQL and no golden fingerprint"
        elif got != want:
            bad[name] = f"fingerprint mismatch: got {got[1]} rows {got[2]}, " \
                        f"expected {want[1]} rows {want[2]}"
    return bad, seen


def foreign_keys(con, check_dir, tables):
    """(fact, column, dim, key) for every fact column that references a
    dimension's surrogate key (the last column of a `dim_` table): named
    like the key, or a role of it (`fecha_atencion_id` -> `fecha_id`)."""
    def columns(t):
        return con.sql(f"SELECT * FROM {parquet_table(check_dir, t)} LIMIT 0").columns
    keys = {columns(t)[-1]: t for t in tables if t.startswith("dim_")}
    return [(t, c, keys[k], k) for t in tables if t.startswith("fact_")
            for c in columns(t) for k in keys
            if c == k or (c.endswith("_id") and c.startswith(k[:-len("id")]))]


def parquet_table(check_dir, name):
    return f"read_parquet('{check_dir}/{name}/*.parquet')"


def check_warehouse(con, ops, check_dir, golden):
    """Per-table row counts and fingerprints against the golden record,
    and every fact foreign key resolving in its dimension."""
    bad, seen = {}, {}
    for op in ops:
        name = op["name"]
        try:
            seen[name] = got = output_fingerprint(con, f"{check_dir}/{name}")
        except Exception as e:
            bad[name] = str(e)
            continue
        want = golden.get(name)
        if want is None:
            bad[name] = "no golden row count and fingerprint"
        elif got[1] != want[1]:
            bad[name] = f"row count {got[1]}, expected {want[1]}"
        elif got != want:
            bad[name] = "fingerprint mismatch"
    for fact, col, dim, key in foreign_keys(con, check_dir, [n for n in seen if n not in bad]):
        allowed = f"f.{col} IS DISTINCT FROM {NO_MEMBER[col]} AND " if col in NO_MEMBER else ""
        missing = con.sql(
            f"SELECT count(*) FROM {parquet_table(check_dir, fact)} f "
            f"WHERE {allowed}NOT EXISTS (SELECT 1 FROM {parquet_table(check_dir, dim)} d "
            f"WHERE d.{key} = f.{col})").fetchone()[0]
        if missing:
            bad[fact] = f"{missing} rows of {fact}.{col} do not resolve in {dim}"
    return bad, seen
