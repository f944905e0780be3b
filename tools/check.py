"""Local mimic of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB (same parquet views), then compares
row count, column-name set, and order-insensitive values (floats at
1e-9 relative tolerance). Usage::

    python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd


def load_oracle_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def canon(df: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Canonicalize for order-insensitive compare: sort columns by name,
    stringify cells (floats rounded to 9 significant digits), sort rows.
    Returns (string form, raw form) in the same row order so mismatching
    cells can be re-checked against raw values with float tolerance."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None:
            return ""
        if isinstance(v, float):
            if math.isnan(v):
                return ""
            if v == 0:
                return "0"
            return f"{v:.9g}"
        if isinstance(v, (pd.Timestamp,)):
            return v.isoformat()
        if isinstance(v, (list, np.ndarray)):
            return "[" + ",".join(cell(float(x)) for x in v) + "]"
        return str(v)

    out = df.map(cell)
    order = out.sort_values(
        by=list(out.columns), kind="mergesort"
    ).index
    return (
        out.loc[order].reset_index(drop=True),
        df.loc[order].reset_index(drop=True),
    )


def cell_strict(v):
    """Driver-mimic cell repr, calibrated against CORRECTNESS_r01:
    floats round to 6 decimals (1e-13 summation drift passed the driver;
    a 1e-6 diff failed), but int 5 != float 5.0 (DuckDB HUGEINT->float64
    vs Spark long failed despite equal values). Matching here should
    imply matching the driver's value hash."""
    if v is None:
        return ""
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "" if math.isnan(f) else repr(round(f, 6))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, np.ndarray)):
        raise TypeError("array cell")
    if v is pd.NaT or v is pd.NA:
        return ""
    return str(v)


def array_cols(df: pd.DataFrame) -> list[str]:
    """Array-typed output columns crash the driver's canonicalizer
    (pandas can't factorize list cells) — every driver-visible query,
    oracle-backed or rows-only, must emit scalars."""
    bad = []
    for c in df.columns:
        head = df[c].head(20)
        if any(isinstance(v, (list, np.ndarray)) for v in head):
            bad.append(c)
    return bad


def strict_compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """Exact, dtype-sensitive compare mimicking the driver's hash."""
    s = sdf.reindex(sorted(sdf.columns), axis=1).map(cell_strict)
    o = odf.reindex(sorted(odf.columns), axis=1).map(cell_strict)
    s = s.sort_values(by=list(s.columns), kind="mergesort").reset_index(
        drop=True
    )
    o = o.sort_values(by=list(o.columns), kind="mergesort").reset_index(
        drop=True
    )
    if s.equals(o):
        return []
    detail = []
    neq = (s != o).any(axis=1)
    for i in neq[neq].index:
        for c in s.columns:
            if s.at[i, c] != o.at[i, c]:
                detail.append(f"row{i} {c}: spark={s.at[i, c]!r} "
                              f"oracle={o.at[i, c]!r}")
                if len(detail) >= 4:
                    return detail
    return detail or ["row-order-only divergence (should not happen)"]


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    if scols != ocols:
        problems.append(f"columns spark={scols} oracle={ocols}")
        return problems
    if problems:
        return problems
    cs, rs = canon(sdf)
    co, ro = canon(odf)
    neq = (cs != co).any(axis=1)
    if neq.any():
        # Re-check mismatching cells against RAW values with tolerance —
        # 9-sig-digit string rounding can straddle a .5 boundary on a
        # ~1e-15 float-summation-order difference.
        detail = []
        n_real = 0
        for i in neq[neq].index:
            row_bad = False
            for c in cs.columns:
                a, b = cs.at[i, c], co.at[i, c]
                if a == b:
                    continue
                ra, rb = rs.at[i, c], ro.at[i, c]
                close = False
                try:
                    close = math.isclose(
                        float(ra), float(rb), rel_tol=1e-8, abs_tol=1e-12
                    )
                except (TypeError, ValueError):
                    pass
                if not close:
                    row_bad = True
                    if len(detail) < 6:
                        detail.append(
                            f"row{i} col {c}: spark={a!r} oracle={b!r}"
                        )
            if row_bad:
                n_real += 1
        if n_real:
            problems.append(
                f"{n_real}/{len(cs)} rows differ; e.g. " + "; ".join(detail)
            )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # The checkout this script lives in, not whichever is installed.
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod
    from mora_spark.session import get_spark

    spark = get_spark(app_name="check")
    con = load_oracle_con(sf_dir)

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            failures.append(name)
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            continue
        arrs = array_cols(sdf)
        if arrs:
            failures.append(name)
            print(f"FAIL {name}: array-typed output column(s) {arrs} "
                  "would crash the driver canonicalizer")
            continue
        if name not in oracles:
            print(f"OK?  {name}: rows={len(sdf)} (no oracle, rows-only) "
                  f"[{time.time()-t0:.1f}s]")
            if len(sdf) == 0:
                print(f"     WARNING {name} returned 0 rows")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception:
            failures.append(name)
            print(f"FAIL {name}: oracle error\n{traceback.format_exc()}")
            continue
        problems = compare(name, sdf, odf)
        if problems:
            failures.append(name)
            print(f"FAIL {name}: " + " | ".join(problems))
            continue
        try:
            strict = strict_compare(sdf, odf)
        except TypeError:
            strict = ["array cell reached strict compare"]
        if strict:
            failures.append(name)
            print(f"HASH {name}: tolerant-OK but strict hash would differ: "
                  + " | ".join(strict))
        else:
            print(f"OK   {name}: rows={len(sdf)} [{time.time()-t0:.1f}s]")

    missing = set(oracles) - set(queries)
    if missing:
        print(f"WARNING oracle without query: {sorted(missing)}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
