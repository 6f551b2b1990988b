#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from oracle_sql.json in DuckDB with views over
<sfDir>/*.parquet, and compares: columns sorted by name, rows sorted, values
compared exactly (floats to 1e-12 relative, reported if only-approx equal).

SPARK_GRAFT_ONLY=q_a,q_b (the variable graft.Verify honours for a subset
dump) restricts the compare to the named entries; a named entry with no
Spark output still fails.
"""
import json
import math
import os
import sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def shape_lint(name, df, side):
    """Driver-faithful shape check: the driver's pandas comparator calls
    sort_values over every column and cannot factorize array/struct/map
    cells (TypeError: unhashable type 'numpy.ndarray'). Reject any
    non-scalar top-level column up front so the class of r5 red rows
    (raw array outputs) fails locally."""
    bad = []
    for c in df.columns:
        col = df[c].dropna()
        if len(col) and any(
                isinstance(v, (list, tuple, dict)) or
                (hasattr(v, "tolist") and not isinstance(v, (str, bytes))
                 and getattr(v, "ndim", 0) >= 1)
                for v in col.head(20)):
            bad.append(c)
    if bad:
        print(f"FAIL {name}: non-scalar {side} column(s) {bad} — the "
              f"driver comparator throws on array/struct/map cells")
        return False
    return True


def rows_of(df):
    cols = sorted(df.columns)
    df = df[cols]
    # driver-faithful: sort the raw pandas frame over all columns (the
    # driver does sort_values; ndarray cells would throw there, and the
    # shape lint above rejects them before we get here)
    df = df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    recs = [tuple(r) for r in df.itertuples(index=False)]
    return cols, recs


def eq(a, b):
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(eq(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def approx(a, b):
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(approx(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only is not None:
        names = {n.strip() for n in only.split(",")}
        oracle = {k: v for k, v in oracle.items() if k in names}
    n_pass = n_fail = n_approx = 0
    for name, sql in sorted(oracle.items()):
        pdir = Path(out_dir) / name
        if not pdir.exists():
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            got = con.sql(f"SELECT * FROM '{pdir}/*.parquet'").df()
            rel = con.sql(sql)
            # lint: DuckDB result types that hash differently from Spark's
            # (HUGEINT from widened sums, DECIMAL) broke r4/r5 rows — fail
            # them here instead of at the driver
            widened = [f"{c}:{t}" for c, t in zip(rel.columns, rel.types)
                       if str(t) == "HUGEINT" or str(t).startswith("DECIMAL")]
            if widened:
                print(f"FAIL {name}: oracle column type(s) {widened} — "
                      f"CAST to BIGINT/DOUBLE so the driver hash matches")
                n_fail += 1
                continue
            want = rel.df()
        except Exception as e:
            print(f"FAIL {name}: {str(e).splitlines()[0][:200]}")
            n_fail += 1
            continue
        if not (shape_lint(name, got, "spark") and
                shape_lint(name, want, "oracle")):
            n_fail += 1
            continue
        gc, gr = rows_of(got)
        wc, wr = rows_of(want)
        if gc != wc:
            print(f"FAIL {name}: columns {gc} != {wc}")
            n_fail += 1
            continue
        if len(gr) != len(wr):
            print(f"FAIL {name}: rows {len(gr)} != {len(wr)}")
            n_fail += 1
            continue
        exact = all(all(eq(a, b) for a, b in zip(r1, r2))
                    for r1, r2 in zip(gr, wr))
        if exact:
            print(f"PASS {name} ({len(gr)} rows)")
            n_pass += 1
            continue
        ok = all(all(approx(a, b) for a, b in zip(r1, r2))
                 for r1, r2 in zip(gr, wr))
        if ok:
            print(f"APPROX {name} ({len(gr)} rows) — values equal only to 1e-9")
            n_approx += 1
        else:
            n_fail += 1
            bad = [(r1, r2) for r1, r2 in zip(gr, wr)
                   if not all(approx(a, b) for a, b in zip(r1, r2))]
            print(f"FAIL {name}: {len(bad)} mismatched rows; first: "
                  f"got={bad[0][0]} want={bad[0][1]}")
    print(f"== {n_pass} pass, {n_approx} approx, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
