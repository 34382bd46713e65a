"""Output normalisation and comparison, mirroring the repository's DuckDB
oracle gate (`tools/check.py`): columns are matched by position, rows
are sorted, floats are compared to 1e-9 after both sides' own round()."""
import math

import duckdb

import gen


def duck(data_dir):
    con = duckdb.connect()
    for t in gen.sizes(1):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def norm_value(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(round(x, 6) if isinstance(x, float) else x for x in v)
    return v


def norm(rows):
    out = [tuple(norm_value(v) for v in r) for r in rows]
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return out


def close(a, b):
    if isinstance(a, float) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def compare(got, want, what):
    """None when the row multisets agree, else a one-line reason."""
    g, w = norm(got), norm(want)
    if len(g) != len(w):
        return f"{what}: {len(g)} rows vs oracle {len(w)}"
    for a, b in zip(g, w):
        if not close(a, b):
            return f"{what}: row {a} vs oracle {b}"
    return None
