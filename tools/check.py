#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (Spark output), runs the matching
oracle SQL from oracle_sql.json in DuckDB over the raw tables in <sfDir>,
and compares: schema (column names), row count, and a value hash computed
after sorting columns by name and rows by all columns. Each PASS/FAIL line
ends with the seconds its oracle query took, and the five slowest oracles
are listed after the summary.
"""
import sys, os, json, glob, time
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def norm_cell(v):
    if isinstance(v, float):
        return f"{v:.9g}"
    return str(v)

def frame_hash(df: pd.DataFrame) -> str:
    import hashlib
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(("|".join(norm_cell(v) for v in row) + "\n").encode())
    return h.hexdigest()[:16]

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = n_rows_only = 0
    oracle_s = {}
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(os.path.join(d, "*.parquet"))
        if not files:
            print(f"[FAIL] {name}: no spark output")
            n_fail += 1
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracles:
            ok = len(got) > 0
            print(f"[{'ROWS' if ok else 'FAIL'}] {name}: rows-only, {len(got)} rows")
            n_rows_only += ok
            n_fail += (not ok)
            continue
        t0 = time.perf_counter()
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"[FAIL] {name}: oracle error: {e} (oracle {time.perf_counter() - t0:.2f} s)")
            n_fail += 1
            continue
        oracle_s[name] = secs = time.perf_counter() - t0
        took = f"(oracle {secs:.2f} s)"
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"[FAIL] {name}: columns {list(g.columns)} vs oracle {list(e.columns)} {took}")
            n_fail += 1
            continue
        if len(g) != len(e):
            print(f"[FAIL] {name}: rows {len(g)} vs oracle {len(e)} {took}")
            n_fail += 1
            continue
        # the driver's hasher is type-strict: an int64 Spark column vs a
        # float64/object oracle column fails even when %.9g values agree
        kinds_g = [df_kind for df_kind in (g.dtypes[c].kind for c in g.columns)]
        kinds_e = [df_kind for df_kind in (e.dtypes[c].kind for c in e.columns)]
        if kinds_g != kinds_e:
            bad = [(c, g.dtypes[c].kind, e.dtypes[c].kind)
                   for c in g.columns if g.dtypes[c].kind != e.dtypes[c].kind]
            print(f"[FAIL] {name}: dtype kind mismatch (spark vs oracle): {bad} {took}")
            n_fail += 1
            continue
        hg, he = frame_hash(g), frame_hash(e)
        if hg != he:
            print(f"[FAIL] {name}: hash {hg} vs {he} {took}")
            diff = (g.astype(str) != e.astype(str))
            idx = diff.any(axis=1)
            print("  first diffs (spark vs oracle):")
            print(pd.concat([g[idx].head(3), e[idx].head(3)], axis=1).to_string())
            n_fail += 1
        else:
            print(f"[PASS] {name}: {len(g)} rows, hash {hg} {took}")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail")
    slowest = sorted(oracle_s.items(), key=lambda kv: -kv[1])[:5]
    print("slowest oracles: " + ", ".join(f"{n} {s:.2f} s" for n, s in slowest))
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
