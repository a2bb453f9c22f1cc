#!/usr/bin/env python3
"""Local correctness pre-check mimicking the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [--digests <file>]

For each query result parquet in <verifyOutDir>, runs the matching SQL from
oracle_sql.json in DuckDB over the sfDir tables and compares the way the
DRIVER does: both sides go through pandas (`.df()`), columns sorted by name,
rows sorted by all columns (pandas sort_values — this THROWS on unhashable
cells like ndarray, exactly like the driver's sorter), and values compared
cell-for-cell with NO rounding. Dtypes are compared by family so an oracle
that comes back float64 (e.g. DuckDB HUGEINT from a bare integer sum())
against a Spark int64 is flagged as a DTYPE mismatch — that difference fails
the driver's hash even when every value is equal, and round-3 shipped five
such reds while this tool said green. Dev-only tooling (runs on the
driver-side python stack); the shipped library is pure Scala/Spark.

--digests <file> also writes one `query<TAB>sha256` line per output, each
over the output in canon() shape (columns by name, rows sorted), so two
commits' runs compare with one `diff`.
"""
import sys, os, json, math, hashlib, argparse
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def dtype_family(dt):
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_float_dtype(dt):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dt):
        return "datetime"
    return "object"

def canon(df):
    """Sort columns by name, rows by all columns — the driver's shape.

    Raises on unhashable cells (ndarray) just like the driver's sorter.
    """
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns),
                            kind="mergesort", na_position="first")
    return df.reset_index(drop=True)

def plain(v):
    """A cell as a plain Python value whose repr is exact and complete."""
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(plain(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, plain(x)) for k, x in v.items()))
    return v.item() if isinstance(v, np.generic) else v

def digest(df):
    """sha256 of `df` in canon() shape: the column names and dtypes, then
    every row. Frames whose cells pandas cannot sort (arrays) are sorted
    by each row's rendering instead.
    """
    try:
        df = canon(df)
        rows = [repr(plain(tuple(r))) for r in df.itertuples(index=False)]
    except TypeError:
        df = df[sorted(df.columns)]
        rows = sorted(repr(plain(tuple(r)))
                      for r in df.itertuples(index=False))
    h = hashlib.sha256()
    h.update(repr([(c, str(df[c].dtype)) for c in df.columns]).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return h.hexdigest()

def cell_eq(a, b):
    # exact compare, no rounding — the driver hashes raw values
    if a is None or (isinstance(a, float) and math.isnan(a)):
        return b is None or (isinstance(b, float) and math.isnan(b))
    if b is None or (isinstance(b, float) and math.isnan(b)):
        return False
    if isinstance(a, (list, tuple, np.ndarray)) or \
       isinstance(b, (list, tuple, np.ndarray)):
        a = list(a) if isinstance(a, (list, tuple, np.ndarray)) else [a]
        b = list(b) if isinstance(b, (list, tuple, np.ndarray)) else [b]
        return len(a) == len(b) and all(cell_eq(x, y) for x, y in zip(a, b))
    return a == b

def compare(name, got, exp):
    got, exp = canon(got), canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"SCHEMA got={list(got.columns)} want={list(exp.columns)}"
    bad_dt = [(c, dtype_family(got[c].dtype), dtype_family(exp[c].dtype))
              for c in got.columns
              if dtype_family(got[c].dtype) != dtype_family(exp[c].dtype)]
    if bad_dt:
        return ("DTYPE (driver hash would differ even if values equal): "
                + ", ".join(f"{c}: spark={g} oracle={e}"
                            for c, g, e in bad_dt))
    if len(got) != len(exp):
        return f"ROWS got={len(got)} want={len(exp)}"
    for i in range(len(got)):
        for c in got.columns:
            a, b = got[c].iloc[i], exp[c].iloc[i]
            if not cell_eq(a, b):
                return f"VALUES first diff row {i} col {c}: got={a!r} want={b!r}"
    return None

def main(sfdir, outdir, digests_path=None):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    declared = None
    if os.path.exists(f"{outdir}/queries.json"):
        declared = json.load(open(f"{outdir}/queries.json"))
    dirs = sorted(d for d in os.listdir(outdir)
                  if os.path.isdir(os.path.join(outdir, d)))
    n_ok = n_bad = 0
    digests = {}
    if declared is not None:
        for name in declared:
            if name not in dirs:
                print(f"  x {name}: MISSING output dir (query failed?)")
                n_bad += 1
        for name in dirs:
            if name not in declared:
                print(f"  x {name}: STALE dir (not in SparkEntry.queries)")
                n_bad += 1
        dirs = [d for d in dirs if d in declared]
    for name in dirs:
        qdir = os.path.join(outdir, name)
        try:
            got = con.sql(
                f"SELECT * FROM read_parquet('{qdir}/*.parquet')").df()
        except Exception as e:
            print(f"  x {name}: UNREADABLE output ({e})")
            n_bad += 1
            continue
        if digests_path:
            digests[name] = digest(got)
        if name not in oracle:
            # rows-only gate: a non-oracle query must at least return rows
            if len(got) > 0:
                print(f"  ~ {name}: rows-only check OK, rows={len(got)}")
                n_ok += 1
            else:
                print(f"  x {name}: rows-only check EMPTY")
                n_bad += 1
            continue
        try:
            exp = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"  x {name}: ORACLE SQL failed ({e})")
            n_bad += 1
            continue
        try:
            diff = compare(name, got, exp)
        except TypeError as e:
            # the driver's pandas sorter dies the same way (e.g. a raw
            # array column) — that IS a gate failure, not a tool bug
            print(f"  x {name}: UNSORTABLE output, driver errs ({e})")
            n_bad += 1
            continue
        if diff:
            print(f"  x {name}: {diff}")
            n_bad += 1
        else:
            n_ok += 1
            print(f"  + {name} ({len(got)} rows)")
    if digests_path:
        with open(digests_path, "w") as f:
            for name in sorted(digests):
                f.write(f"{name}\t{digests[name]}\n")
    print(f"OK={n_ok} BAD={n_bad}")
    return 1 if n_bad else 0

if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("sfdir")
    ap.add_argument("outdir")
    ap.add_argument("--digests", metavar="FILE",
                    help="write query<TAB>sha256 of each output here")
    a = ap.parse_args()
    sys.exit(main(a.sfdir, a.outdir, a.digests))
