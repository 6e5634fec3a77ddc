#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run each oracle SQL in
DuckDB over the same sf parquet tables and compare against the Verify-dumped
Spark results (columns sorted by name, rows sorted, exact value equality).

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir> [query...]
"""
import json, math, sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def cell_eq(a, b):
    if a is None and b is None:
        return True
    try:
        if isinstance(a, float) or isinstance(b, float):
            fa, fb = float(a), float(b)
            if math.isnan(fa) and math.isnan(fb):
                return True
            return fa == fb
    except (TypeError, ValueError):
        pass
    return a == b


def main():
    sf, outdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        except Exception:
            pass
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(only - set(oracle)):
        print(f"FAIL {name}: no such query")
        n_fail += 1
    for name in sorted(oracle):
        if only and name not in only:
            continue
        try:
            spark_df = canon(con.execute(
                f"SELECT * FROM '{outdir}/{name}/*.parquet'").df())
        except Exception as e:
            print(f"FAIL {name}: no spark result ({e})")
            n_fail += 1
            continue
        try:
            oracle_df = canon(con.execute(oracle[name]).df())
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        ok = True
        if list(spark_df.columns) != list(oracle_df.columns):
            print(f"FAIL {name}: schema spark={list(spark_df.columns)} "
                  f"oracle={list(oracle_df.columns)}")
            ok = False
        elif len(spark_df) != len(oracle_df):
            print(f"FAIL {name}: rows spark={len(spark_df)} oracle={len(oracle_df)}")
            ok = False
        else:
            for i in range(len(spark_df)):
                for c in spark_df.columns:
                    a, b = spark_df[c].iloc[i], oracle_df[c].iloc[i]
                    if not cell_eq(a, b):
                        print(f"FAIL {name}: row {i} col {c}: spark={a!r} oracle={b!r}")
                        ok = False
                        break
                if not ok:
                    break
        if ok:
            print(f"PASS {name} ({len(spark_df)} rows)")
            n_pass += 1
        else:
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
