#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool only — the
shipped Scala library does not depend on this).

Usage: python3 tools/local_oracle.py <outDir> <sfDir>
  where <outDir> was produced by `sbt "runMain graft.Verify <sfDir> <outDir>"`.

For every query: load <outDir>/<name> parquet (Spark result), run the
oracle SQL from oracle_sql.json in DuckDB over the sf tables, sort
columns by name, sort rows, compare values cell-by-cell (exact for
ints/strings, bit-exact for floats), report match/mismatch. Queries
without oracle SQL print `ROWS <name>: <n> sha256=<hex>`, a hash of the
result's cells (columns sorted by name, rows sorted) to compare runs by.
"""
import hashlib, json, sys, glob, math
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True,
                        na_position="first")
    return df

def cell_repr(v):
    """Type-stable repr of one cell: numpy scalars and arrays (list and
    struct columns) become plain Python values, every NaN/None one token."""
    if isinstance(v, dict):
        return "{" + ",".join(f"{k!r}:{cell_repr(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell_repr(x) for x in v) + "]"
    try:
        if pd.isna(v): return "null"
    except (TypeError, ValueError):
        pass
    if isinstance(v, float):
        return v.hex()
    return repr(v)

def content_sha(df: pd.DataFrame) -> str:
    """sha-256 of a result's cells, columns sorted by name, rows sorted:
    a content check for the queries that have no oracle SQL."""
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(cell_repr(v) for v in r)
                  for r in df[cols].itertuples(index=False, name=None))
    return hashlib.sha256("\n".join([",".join(cols)] + rows).encode()).hexdigest()

def cell_eq(a, b):
    if a is None and b is None: return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b): return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b): return True
        if pd.isna(a) or pd.isna(b): return False
    except (TypeError, ValueError):
        pass
    return a == b

def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    n_pass = n_fail = 0
    for name in sorted(oracles):
        try:
            files = glob.glob(f"{out_dir}/{name}/*.parquet")
            if not files:
                print(f"FAIL {name}: no spark output"); n_fail += 1; continue
            got = canon(pd.concat([pd.read_parquet(f) for f in sorted(files)]))
            want = canon(con.sql(oracles[name]).df())
            if list(got.columns) != list(want.columns):
                print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
                n_fail += 1; continue
            if len(got) != len(want):
                print(f"FAIL {name}: rows {len(got)} != {len(want)}"); n_fail += 1; continue
            bad = None
            for ci, c in enumerate(got.columns):
                gv, wv = got[c].tolist(), want[c].tolist()
                for ri in range(len(gv)):
                    if not cell_eq(gv[ri], wv[ri]):
                        bad = (c, ri, gv[ri], wv[ri]); break
                if bad: break
            if bad:
                c, ri, g, w = bad
                print(f"FAIL {name}: col={c} row={ri} spark={g!r} oracle={w!r}")
                # dtype hint
                print(f"     dtypes spark={got[c].dtype} oracle={want[c].dtype}")
                n_fail += 1
            else:
                print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}"); n_fail += 1
    # rows-only queries (no oracle): row count + content hash
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        nm = d.rstrip("/").split("/")[-1]
        if nm not in oracles:
            files = sorted(glob.glob(f"{d}/*.parquet"))
            df = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
            print(f"ROWS {nm}: {len(df)} sha256={content_sha(df)}")
    print(f"\n{n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
