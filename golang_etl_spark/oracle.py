"""Local DuckDB-oracle comparator — mirrors the driver's correctness
gate so every registered query is validated before the driver ever
sees it.

Protocol (per the driver contract in __spark_entry__.py): run the
Spark query and the oracle SQL on the same parquet fixtures, compare
row count, column-name set, and order-insensitive values with columns
sorted by name.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import math
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from golang_etl_spark.sources.catalog import TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Views named exactly as the driver pre-registers them."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize dtypes, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("object")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif isinstance(s.dtype, pd.CategoricalDtype):
            df[c] = s.astype("object")
    sort_cols = list(df.columns)
    if sort_cols:
        df = df.sort_values(by=sort_cols, na_position="last", kind="mergesort")
    return df.reset_index(drop=True)


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    detail: str = ""

    def __str__(self) -> str:
        status = "OK " if self.ok else "FAIL"
        return f"[{status}] {self.name}: spark={self.spark_rows} oracle={self.oracle_rows} {self.detail}"


def _col_class(s: pd.Series) -> str:
    """Coarse dtype class for driver-grade type comparison.

    The driver's hash gate canonicalizes by serialized VALUE FORM, not
    numeric value: a Spark DECIMAL(19,6) against a DuckDB DOUBLE fails
    its hash even when every value is numerically equal (r06:
    ``text_quality_classifier``). ``_values_equal``'s float() coercion
    cannot see that, so the mirror compares dtype classes explicitly.
    """
    if pd.api.types.is_datetime64_any_dtype(s):
        return "temporal"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    for v in s:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            continue
        if isinstance(v, _decimal.Decimal):
            return "decimal"
        if isinstance(v, (bool, np.bool_)):
            return "bool"
        if isinstance(v, (int, np.integer)):
            return "int"
        if isinstance(v, (float, np.floating)):
            return "float"
        if isinstance(v, str):
            return "str"
        if isinstance(v, (bytes, bytearray)):
            return "bytes"
        if isinstance(v, (_dt.datetime, _dt.date, pd.Timestamp)):
            return "temporal"
        if isinstance(v, (list, tuple, np.ndarray)):
            return "array"
        if isinstance(v, dict):
            return "map"
        return "other"
    return "null"  # all-null column: wildcard, matches anything


def _values_equal(a, b) -> bool:
    if pd.isna(a) and pd.isna(b):
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(af) and math.isnan(bf):
            return True
        return af == bf or math.isclose(af, bf, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare_query(
    name: str,
    spark: SparkSession,
    sf_dir: str,
    fn,
    oracle: str,
    con: duckdb.DuckDBPyConnection | None = None,
) -> CompareResult:
    sdf = fn(spark, sf_dir).toPandas()
    own_con = con is None
    if own_con:
        con = duckdb_connection(sf_dir)
    try:
        odf = con.execute(oracle).fetchdf()
    finally:
        if own_con:
            con.close()

    if sorted(sdf.columns) != sorted(odf.columns):
        return CompareResult(
            name, False, len(sdf), len(odf),
            f"column mismatch: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}",
        )
    if len(sdf) != len(odf):
        return CompareResult(name, False, len(sdf), len(odf), "row count mismatch")

    # Driver-grade type gate: classes must agree BEFORE numeric coercion.
    # Decimal-vs-float (or int-vs-float, str-vs-numeric, ...) hashes
    # differently under the driver even when float()-equal.
    for c in sorted(sdf.columns):
        cs, co = _col_class(sdf[c]), _col_class(odf[c])
        if cs != co and "null" not in (cs, co):
            return CompareResult(
                name, False, len(sdf), len(odf),
                f"dtype-class mismatch col {c!r}: spark={cs} oracle={co} "
                "(driver hashes serialized form — numerically-equal values "
                "of different classes FAIL its gate)",
            )

    s = _canonicalize(sdf)
    o = _canonicalize(odf)
    for c in s.columns:
        sv, ov = s[c].to_numpy(), o[c].to_numpy()
        if pd.api.types.is_float_dtype(s[c]) and pd.api.types.is_float_dtype(o[c]):
            if not np.allclose(sv, ov, rtol=1e-9, atol=1e-9, equal_nan=True):
                bad = np.where(~np.isclose(sv, ov, rtol=1e-9, atol=1e-9, equal_nan=True))[0][:3]
                return CompareResult(
                    name, False, len(sdf), len(odf),
                    f"float col {c!r} differs at rows {bad.tolist()}: "
                    f"spark={sv[bad].tolist()} oracle={ov[bad].tolist()}",
                )
        else:
            mism = [
                i for i in range(len(sv)) if not _values_equal(sv[i], ov[i])
            ]
            if mism:
                i = mism[0]
                return CompareResult(
                    name, False, len(sdf), len(odf),
                    f"col {c!r} differs at row {i}: spark={sv[i]!r} oracle={ov[i]!r} "
                    f"({len(mism)} total)",
                )
    # strict-formatting check: catches values that are close but would
    # hash differently under the driver's canonical formatting
    strict = []
    for c in s.columns:
        if pd.api.types.is_float_dtype(s[c]):
            fs = s[c].map(lambda v: "nan" if pd.isna(v) else format(v, ".6g"))
            fo = o[c].map(lambda v: "nan" if pd.isna(v) else format(v, ".6g"))
            n_bad = int((fs != fo).sum())
            if n_bad:
                strict.append(f"{c}:{n_bad}")
    detail = f"(strict-format diffs: {', '.join(strict)})" if strict else ""
    return CompareResult(name, True, len(sdf), len(odf), detail)


def run_all(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Run every registered query against its oracle, through the
    functions of the driver surface (``registry.queries()``); yields
    results."""
    from golang_etl_spark.registry import all_queries, queries

    fns = queries()
    con = duckdb_connection(sf_dir)
    try:
        for qname, spec in sorted(all_queries().items()):
            if names and qname not in names:
                continue
            fn = fns[qname]
            if spec.oracle is None:
                df = fn(spark, sf_dir)
                n = df.count()
                yield CompareResult(qname, True, n, -1, "(rows-only; no oracle)")
                continue
            try:
                yield compare_query(qname, spark, sf_dir, fn, spec.oracle, con)
            except Exception as e:  # surface, keep going
                yield CompareResult(qname, False, -1, -1, f"EXC {type(e).__name__}: {e}")
    finally:
        con.close()
