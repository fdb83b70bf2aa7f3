#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: for each query
output dumped by graft.Verify, run the matching oracle SQL in DuckDB
over the same sf parquet tables and compare rows/schema/values.

Usage: compare.py <verify_out_dir> <sf_dir> [query ...]
"""
import sys, json, glob, os
import duckdb
import numpy
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def aligned(spark_df, ora_df, cols):
    """Both frames sorted into comparable row order. Numeric columns are
    coerced to a common dtype (the driver hashes values, not physical
    parquet types). pandas .equals treats -0.0 == 0.0 while the driver
    hashes the bits, so each float column also carries its sign bit as a
    column of its own, which .equals and the sort both see."""
    keys = list(cols)
    for c in cols:
        sa, sb = spark_df[c], ora_df[c]
        if sa.dtype != sb.dtype and pd.api.types.is_numeric_dtype(sa) \
                and pd.api.types.is_numeric_dtype(sb):
            spark_df[c] = sa.astype("float64")
            ora_df[c] = sb.astype("float64")
        if pd.api.types.is_float_dtype(spark_df[c]) and \
                pd.api.types.is_float_dtype(ora_df[c]):
            sign = f"{c}.signbit"
            spark_df[sign] = numpy.signbit(spark_df[c])
            ora_df[sign] = numpy.signbit(ora_df[c])
            keys.append(sign)
    return tuple(df[keys].sort_values(keys).reset_index(drop=True)
                 for df in (spark_df, ora_df))

def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    results = {}
    for name in sorted(oracles):
        if only and name not in only:
            continue
        sql = oracles[name]
        qdir = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(qdir, "*.parquet"))
        if not files:
            results[name] = {"err": "no_spark_output"}
            continue
        try:
            spark_df = con.execute(
                f"SELECT * FROM read_parquet({files!r})").fetchdf()
        except Exception as e:
            results[name] = {"err": f"spark_read: {e}"}
            continue
        try:
            ora_df = con.execute(sql).fetchdf()
        except Exception as e:
            results[name] = {"err": f"oracle: {type(e).__name__}: {e}"}
            continue
        r = {"spark_rows": len(spark_df), "oracle_rows": len(ora_df)}
        s_cols = sorted(spark_df.columns)
        o_cols = sorted(ora_df.columns)
        r["schema_match"] = s_cols == o_cols
        if s_cols != o_cols:
            r["cols"] = {"spark": s_cols, "oracle": o_cols}
        else:
            a, b = aligned(spark_df, ora_df, s_cols)
            r["rows_match"] = len(a) == len(b)
            r["hash_match"] = bool(len(a) == len(b) and a.equals(b))
            if not r["hash_match"] and len(a) == len(b):
                diff = (a != b) & ~(a.isna() & b.isna())
                bad = diff.any(axis=1)
                r["n_diff_rows"] = int(bad.sum())
                if bad.any():
                    i = bad.idxmax()
                    r["first_diff"] = {"spark": a.loc[i].to_dict(),
                                       "oracle": b.loc[i].to_dict()}
        results[name] = r
    ok = all(v.get("hash_match") for v in results.values())
    for name, v in results.items():
        status = "OK " if v.get("hash_match") else "FAIL"
        print(f"{status} {name}: {json.dumps(v, default=str)[:500]}")
    print("ALL OK" if ok else "SOME FAILED")

if __name__ == "__main__":
    main()
