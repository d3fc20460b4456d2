#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check_oracles.py <sfDir> <verifyOutDir> [query ...]

Loads each <verifyOutDir>/<name>/ parquet (Spark result), runs the
matching SQL from oracle_sql.json in DuckDB over the sfDir tables, and
compares: columns sorted by name, rows sorted by all columns, values
canonicalized (floats rounded), then hashed.

With query names, grades only those queries (a name with no oracle SQL
fails); otherwise grades every query in oracle_sql.json. Exits 0 only if
every graded query matches.
"""
import sys, json, glob, os, math
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            s = s.round(6)
        elif s.dtype.kind == "M":
            s = s.astype("datetime64[us]").astype(str)
        else:
            s = s.astype(object).map(
                lambda v: round(v, 6) if isinstance(v, float)
                else (list(v) if hasattr(v, "tolist") else v))
            s = s.map(lambda v: str(v))
        out[c] = s.astype(str)
    cdf = pd.DataFrame(out)
    return cdf.sort_values(by=list(cdf.columns)).reset_index(drop=True)


def main():
    sf_dir, out_dir, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name in names:
        if name not in oracle:
            print(f"FAIL {name}: no oracle sql"); n_bad += 1
    graded = {n: q for n, q in oracle.items() if not names or n in names}
    for name, sql in sorted(graded.items()):
        res_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{res_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_bad += 1; continue
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in files])
            duck_df = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_bad += 1; continue
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
            n_bad += 1; continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}"); n_bad += 1; continue
        if not a.equals(b):
            neq = (a != b).any(axis=1)
            print(f"FAIL {name}: {int(neq.sum())}/{len(a)} rows differ")
            print("  spark:", a[neq].head(3).to_dict("records"))
            print("  duck :", b[neq].head(3).to_dict("records"))
            n_bad += 1; continue
        print(f"OK   {name} ({len(a)} rows)"); n_ok += 1
    print(f"== {n_ok} ok, {n_bad} fail ==")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
