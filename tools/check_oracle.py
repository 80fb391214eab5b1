#!/usr/bin/env python3
"""Dev-only emulation of the driver's DuckDB correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
       python3 tools/check_oracle.py <sfDir> <verifyOutDir> --against <old oracle_sql.json>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs the
matching SQL from oracle_sql.json in DuckDB against the sfDir parquet tables,
sorts columns by name and rows by all columns, and compares cell-by-cell.

With --against, checks an oracle refactor instead: for every key whose SQL
text differs between <verifyOutDir>/oracle_sql.json and the old file, runs
both texts over the sfDir tables and compares their results the same way.
Identical keys are skipped; any mismatch or oracle error exits non-zero.
"""
import sys, json, os, argparse
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def connect(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con

def run_sql(con, sql):
    """(column -> type name, pandas frame) of one query's result."""
    rel = con.sql(sql)
    return dict(zip(rel.columns, [str(t) for t in rel.types])), rel.df()

def check_against(con, new, old):
    """Compares the results of every key whose SQL differs between the
    two {name: sql} maps. Returns (number of keys checked, [(name, message)]
    for each mismatch, oracle error or key present on one side only)."""
    failures = [(k, "only in one oracle file")
                for k in sorted(set(new) ^ set(old))]
    changed = sorted(k for k in set(new) & set(old) if new[k] != old[k])
    for k in changed:
        try:
            new_types, got = run_sql(con, new[k])
            old_types, exp = run_sql(con, old[k])
        except Exception as e:
            failures.append((k, f"oracle error: {e}"))
            continue
        ok, msg = compare_types(new_types, old_types)
        if ok:
            ok, msg = compare(got, exp)
        if not ok:
            failures.append((k, msg))
    return len(changed), failures

def main_against(sf_dir, out_dir, old_path):
    new = json.load(open(f"{out_dir}/oracle_sql.json"))
    old = json.load(open(old_path))
    n, failures = check_against(connect(sf_dir), new, old)
    for k, msg in failures:
        print(f"FAIL  {k}: {msg}")
    same = sum(1 for k in set(new) & set(old) if new[k] == old[k])
    print(f"\n{n} changed, {len(failures)} fail, {same} identical skipped")
    return 1 if failures else 0

def main(sf_dir, out_dir):
    con = connect(sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_skip = 0
    for name in sorted(os.listdir(out_dir)):
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir):
            continue
        try:
            got_types, got = run_sql(con, f"SELECT * FROM '{qdir}/*.parquet'")
        except Exception as e:
            print(f"FAIL (no output) {name}: {e}")
            n_fail += 1
            continue
        if name not in oracle:
            print(f"SKIP (no oracle, rows={len(got)})  {name}")
            n_skip += 1
            continue
        try:
            exp_types, exp = run_sql(con, oracle[name])
        except Exception as e:
            print(f"FAIL (oracle error) {name}: {e}")
            n_fail += 1
            continue
        ok, msg = compare_types(got_types, exp_types)
        if ok:
            ok, msg = compare(got, exp)
        if ok:
            print(f"PASS  {name}  ({len(got)} rows)")
            n_pass += 1
        else:
            print(f"FAIL  {name}: {msg}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    return 1 if n_fail else 0

INT_KINDS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}
# HUGEINT has no numpy integer wide enough, so .df() lands it in float64 —
# which is why a DuckDB SUM(BIGINT) oracle (HUGEINT) hash-mismatches a Spark
# BIGINT column at the driver even when every cell value is equal.
FLOAT_KINDS = {"FLOAT", "DOUBLE", "HUGEINT", "UHUGEINT"}

def type_kind(t):
    t = t.upper()
    if t in INT_KINDS:
        return "int"
    if t in FLOAT_KINDS or t.startswith("DECIMAL"):
        return "float"
    return t

def compare_types(got_types, exp_types):
    """The driver hashes values AFTER pandas conversion, so what matters is
    the pandas-level kind: all DuckDB integer widths land in int64-ish dtypes
    and print '5', while HUGEINT/DECIMAL/DOUBLE land in float64 and print
    '5.0'.  An oracle that widens an integer aggregate (DuckDB SUM(BIGINT) ->
    HUGEINT, plain or windowed) therefore fails the driver's hash even when
    every cell is equal — wrap it in CAST(... AS BIGINT).  This check catches
    that class before the driver does."""
    for c in sorted(set(got_types) & set(exp_types)):
        g, e = type_kind(got_types[c]), type_kind(exp_types[c])
        if g != e:
            return False, (f"col {c} TYPE-KIND mismatch: spark={got_types[c]}"
                           f" ({g}) vs oracle={exp_types[c]} ({e})")
    return True, ""

def compare(got, exp):
    import pandas as pd
    if sorted(got.columns) != sorted(exp.columns):
        return False, f"columns differ: {sorted(got.columns)} vs {sorted(exp.columns)}"
    g = got[sorted(got.columns)].sort_values(by=sorted(got.columns)).reset_index(drop=True)
    e = exp[sorted(exp.columns)].sort_values(by=sorted(exp.columns)).reset_index(drop=True)
    if len(g) != len(e):
        return False, f"row count {len(g)} vs {len(e)}"
    for c in g.columns:
        gc, ec = g[c], e[c]
        if gc.dtype.kind == 'f' or ec.dtype.kind == 'f':
            import numpy as np
            a, b = gc.astype(float).values, ec.astype(float).values
            nan_ok = (pd.isna(a) == pd.isna(b)).all()
            both = ~pd.isna(a) & ~pd.isna(b)
            if not nan_ok or not np.allclose(a[both], b[both], rtol=0, atol=0):
                # report first exact mismatch + whether it's within 1e-9
                bad = (a != b) & both
                if bad.any() or not nan_ok:
                    i = int(bad.argmax()) if bad.any() else int((pd.isna(a) != pd.isna(b)).argmax())
                    close = np.allclose(a[both], b[both], rtol=1e-9, atol=1e-12)
                    return False, (f"col {c} row {i}: {a[i]!r} vs {b[i]!r}"
                                   f" (within 1e-9: {close})")
        else:
            ne = (gc.astype(str).values != ec.astype(str).values)
            if ne.any():
                i = int(ne.argmax())
                return False, f"col {c} row {i}: {gc.iloc[i]!r} vs {ec.iloc[i]!r}"
    return True, ""

if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--against", metavar="OLD_ORACLE_SQL_JSON")
    a = ap.parse_args()
    sys.exit(main_against(a.sf_dir, a.out_dir, a.against) if a.against
             else main(a.sf_dir, a.out_dir))
