#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py [--strict] [sfDir] [outDir]
  1. expects graft.Verify to have been run:  sbt "runMain graft.Verify <sfDir> <outDir>"
  2. loads outDir/oracle_sql.json, runs each SQL in DuckDB over the same
     parquet tables, and compares with the Spark parquet dump.

Default compare: columns sorted by name, rows sorted by all columns, exact
value match (floats compared to 1e-9 after both sides' own round()). A
filtered Verify run (3rd arg) dumps a subset; absent dirs are skipped.

--strict: the driver's own compare, pandas-based and dtype-sensitive. The
driver loads both result sets into pandas, sorts columns by name, sorts
rows by ALL columns (this throws on array cells), then hashes values. A
DuckDB HUGEINT (e.g. sum(int)) arrives as float64/object while Spark's
bigint arrives as int64 -> value reprs differ -> hash mismatch even when
the default tuple compare passes. This mode replicates those failure modes;
it prints FAIL lines only, and an absent dump dir fails.
"""
import glob, json, math, os, sys
import duckdb

STRICT = "--strict" in sys.argv[1:]
if STRICT:
    sys.argv.remove("--strict")
    import pandas as pd
SFDIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]

con = duckdb.connect()
for t in TABLES:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SFDIR}/{t}.parquet')")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))

def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
            if isinstance(v, list):
                v = tuple(round(x, 6) if isinstance(x, float) else x for x in v)
            rr.append(v)
        out.append(tuple(rr))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out

def close(a, b):
    if isinstance(a, float) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b

def canon(df):
    df = df.rename(columns=str.lower)
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns))  # throws on ndarray cells
    cells = []
    for row in df.itertuples(index=False):
        # round BEFORE keying so near-equal floats can't sort differently
        # between engines; normalize -0.0 so the zero's sign can't either
        cells.append(tuple(round(v, 6) + 0.0 if isinstance(v, float) else v
                           for v in row))
    cells.sort(key=lambda t: tuple(str(x) for x in t))
    return list(df.columns), cells

def cell_eq(a, b):
    # dtype-sensitive on purpose (the driver hash includes reprs of
    # int64-vs-float64 etc.), but float VALUES compare with a
    # tolerance so a last-ulp difference under round(6) can't fail
    if type(a) is not type(b):
        return False
    if isinstance(a, float):
        # pandas reads SQL NULL as NaN on both sides: NaN equals only NaN
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return repr(a) == repr(b)

def compare(name, sql):
    """(got rows, None) on a match, else (None, the FAIL reason)"""
    if STRICT:
        files = glob.glob(f"{OUT}/{name}/*.parquet")
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        gcols, grows = canon(got)
        wcols, wrows = canon(con.sql(sql).df())
        eq = lambda g, w: len(g) == len(w) and all(cell_eq(x, y) for x, y in zip(g, w))
    else:
        got = con.sql(f"SELECT * FROM read_parquet('{OUT}/{name}/*.parquet')")
        gcols, grows = norm(got.fetchall(), [c.lower() for c in got.columns])
        want = con.sql(sql)
        wcols, wrows = norm(want.fetchall(), [c.lower() for c in want.columns])
        eq = close
    if gcols != wcols:
        return None, f"columns {gcols} vs {wcols}"
    if len(grows) != len(wrows):
        return None, f"rowcount {len(grows)} vs {len(wrows)}"
    bad = [(g, w) for g, w in zip(grows, wrows) if not eq(g, w)]
    if bad:
        return None, (f"{len(bad)}/{len(grows)} rows differ; "
                      f"first: spark={bad[0][0]} duck={bad[0][1]}")
    return grows, None

npass = nfail = nskip = 0
for name, sql in sorted(oracle.items()):
    if not STRICT and not os.path.isdir(f"{OUT}/{name}"):
        nskip += 1
        continue
    try:
        rows, why = compare(name, sql)
    except Exception as e:
        err = f"{type(e).__name__}: {e}" if STRICT else e
        print(f"FAIL {name}: error {err}")
        nfail += 1
        continue
    if why:
        print(f"FAIL {name}: {why}")
        nfail += 1
    else:
        if not STRICT:
            print(f"PASS {name} ({len(rows)} rows)")
        npass += 1

skipped = f", {nskip} not dumped" if nskip else ""
print(f"\n{npass} passed, {nfail} failed, {len(oracle)} total{skipped}")
sys.exit(1 if nfail else 0)
