"""Local stand-in for the driver's DuckDB-oracle comparison.

Runs a registry query on Spark and its oracle SQL on DuckDB over the same
parquet fixtures, canonicalizes both frames (columns sorted by name, rows
sorted by all columns) and compares values — floats to 1e-9, everything
else exactly. Stricter than the driver's order-insensitive value-hash in
spirit: any diff here would likely flip the driver's hash.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

TABLES = ["documents", "events"]


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: str(v) if not isinstance(v, (list,)) else str(list(v))
            )
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """Return list of differences; empty means parity."""
    errs: list[str] = []
    a, b = canon(spark_pdf), canon(duck_pdf)
    if list(a.columns) != list(b.columns):
        return [f"columns differ: spark={list(a.columns)} duck={list(b.columns)}"]
    if len(a) != len(b):
        return [f"row count differs: spark={len(a)} duck={len(b)}"]
    for c in a.columns:
        av, bv = a[c], b[c]
        try:
            af = av.astype(float)
            bf = bv.astype(float)
            is_num = True
        except (ValueError, TypeError):
            is_num = False
        if is_num:
            for i, (x, y) in enumerate(zip(af, bf)):
                both_nan = (
                    isinstance(x, float)
                    and isinstance(y, float)
                    and math.isnan(x)
                    and math.isnan(y)
                )
                if not both_nan and not math.isclose(
                    float(x), float(y), rel_tol=1e-9, abs_tol=1e-9
                ):
                    errs.append(f"col {c} row {i}: spark={x!r} duck={y!r}")
                    if len(errs) > 5:
                        return errs
        else:
            neq = av.astype(str) != bv.astype(str)
            if neq.any():
                i = int(neq.idxmax())
                errs.append(
                    f"col {c}: {int(neq.sum())} diffs, first at row {i}: "
                    f"spark={av[i]!r} duck={bv[i]!r}"
                )
    return errs


def run_parity(spark, sf_dir: str, names: list[str] | None = None) -> dict[str, list[str]]:
    """Run every oracle-backed registry query; return {name: errors}."""
    from relation_extraction_spark.plans.queries import QUERIES

    con = duck_connection(sf_dir)
    results: dict[str, list[str]] = {}
    for name, (fn, sql) in QUERIES.items():
        if sql is None:
            continue
        if names and name not in names:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
            duck_pdf = con.sql(sql).df()
            results[name] = compare(spark_pdf, duck_pdf)
        except Exception as e:  # pragma: no cover - debugging aid
            results[name] = [f"EXCEPTION: {type(e).__name__}: {e}"]
    return results
