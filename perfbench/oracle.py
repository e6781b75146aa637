"""Spark-versus-DuckDB result comparison.

The same rules as the repository's oracle-parity tests: equal column
names, equal row counts, and equal values after sorting both sides on
every column; an integer column facing a float column is a mismatch,
because a value hash tells 3 from 3.0.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from perfbench.datagen import TABLES


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for name in TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(list(df.columns), na_position="first", kind="mergesort").reset_index(
        drop=True
    )


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """Mismatch descriptions; an empty list means the results agree."""
    sp, du = spark_pdf, duck_pdf
    if sorted(sp.columns) != sorted(du.columns):
        return [f"schema: spark={sorted(sp.columns)} duck={sorted(du.columns)}"]
    if len(sp) != len(du):
        return [f"row count: spark={len(sp)} duck={len(du)}"]
    sp, du = _normalize(sp), _normalize(du)
    issues = []
    for col in sp.columns:
        a, b = sp[col], du[col]
        kinds = {a.dtype.kind, b.dtype.kind}
        if kinds in ({"i", "f"}, {"u", "f"}):
            issues.append(f"col {col}: dtype spark={a.dtype} duck={b.dtype}")
        try:
            if "f" in kinds:
                af, bf = a.astype("float64"), b.astype("float64")
                neq = ~((af == bf) | (af.isna() & bf.isna()))
            else:
                neq = ~((a == b) | (a.isna() & b.isna()))
        except (TypeError, ValueError):
            neq = a.astype(str) != b.astype(str)
        if neq.any():
            i = neq.idxmax()
            issues.append(f"col {col}: {int(neq.sum())} diffs, first row {i}: spark={a[i]!r} duck={b[i]!r}")
    return issues
