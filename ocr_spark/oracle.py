"""Order-insensitive DataFrame↔DuckDB comparison (mirror of the driver's
correctness gate): the one implementation behind pytest,
tools/compare_oracle.py and tools/correctness_local.py."""

from __future__ import annotations

import math


def norm_cell(v) -> str:
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def register_duckdb_views(con, sf_dir: str, tables) -> None:
    for t in tables:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )


# one correctness-gate row (the CORRECTNESS_r*.json format), unfilled
GATE_ROW = dict.fromkeys(
    ("rows_match", "schema_match", "hash_match", "spark_rows", "oracle_rows", "err")
)


def gate(sdf, con, sql: str | None) -> tuple[dict, str | None]:
    """Run both sides of one catalog entry once and compare them: row
    count, column names and order-insensitive canonical values.

    Returns the gate row (:data:`GATE_ROW` filled) and a short mismatch
    description, None on a match. With no oracle SQL the row records
    only ``spark_rows`` and ``err="no_oracle"``."""
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    row = dict(GATE_ROW, spark_rows=len(s_rows))
    if sql is None:
        row["err"] = "no_oracle"
        return row, None
    rel = con.sql(sql)
    d_cols = rel.columns
    d_rows = rel.fetchall()
    row["oracle_rows"] = len(d_rows)
    row["schema_match"] = sorted(s_cols) == sorted(d_cols)
    row["rows_match"] = len(s_rows) == len(d_rows)
    mismatch = None
    if not row["schema_match"]:
        mismatch = f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}"
    elif not row["rows_match"]:
        mismatch = f"rowcount spark={len(s_rows)} duck={len(d_rows)}"
    else:
        cs, cd = canon(s_rows, s_cols), canon(d_rows, d_cols)
        if cs != cd:
            diffs = [(a, b) for a, b in zip(cs, cd) if a != b][:3]
            mismatch = f"value mismatch, first diffs: {diffs}"
    row["hash_match"] = mismatch is None
    return row, mismatch


def compare(sdf, con, sql: str) -> str | None:
    """Return None on match, else a short mismatch description."""
    return gate(sdf, con, sql)[1]
