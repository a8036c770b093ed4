#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: reads Verify's output
parquet per query, runs the corresponding oracle SQL in DuckDB over the
same sfDir tables, and compares.

STRICT (round-6) comparator: both sides are fetched through DuckDB's
pandas bridge (`.df()`), the same path a pandas-based driver would use,
so engine-level type divergence is VISIBLE here exactly as it is to the
driver — e.g. DuckDB `SUM(BIGINT)` returns HUGEINT which pandas folds
to float64 (`4832.0`), while Spark's parquet BIGINT stays int64
(`4832`): a value-hash mismatch the old fetchall()-based mirror could
not see (ints compare equal in Python regardless of the engine type).
Root cause of the three r5 driver-red rows (VERDICT r5 §wrong-1).

Rules enforced per query (columns sorted by name, like the driver):
  1. pandas dtype per column must match EXACTLY between the Spark
     parquet output and the DuckDB oracle result.
  2. values canonicalized at FULL precision (repr of the float, no
     rounding) — a 1-ulp double divergence fails here, as it should:
     the oracle contract is exact-match, floats must be derived from
     identical integer inputs via identical closed formulas.

A query Verify could not write has no output dir and a `name<TAB>error`
row in `<verifyOutDir>/_failed.tsv`; it is reported with that error.

Usage: python3 tools/selfcheck.py <sfDir> <verifyOutDir> [only,names]
"""
import json, math, os, sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def canon(v):
    # full-precision canonicalization; NaN folded so NaN == NaN
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return repr(v)

def table_key(df):
    cols = sorted(df.columns)
    return [tuple(canon(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]

def read_failed(outdir):
    """Verify's failure manifest: {name: error}, empty when absent."""
    path = os.path.join(outdir, "_failed.tsv")
    if not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as f:
        rows = [line.rstrip("\n").split("\t", 1) for line in f if line.strip()]
    return {r[0]: (r[1] if len(r) > 1 else "") for r in rows}

def main(sfdir, outdir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    failed = read_failed(outdir)
    for name in sorted(set(failed) - set(oracle)):
        print(f"VERIFY FAILED {name} (no oracle): {failed[name][:200]}")
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        if name in failed:
            print(f"FAIL {name}: Verify failed: {failed[name][:200]}")
            n_fail += 1
            continue
        try:
            g = con.execute(f"SELECT * FROM '{outdir}/{name}/*.parquet'").df()
        except Exception as e:
            print(f"FAIL {name}: spark output unreadable: {e}")
            n_fail += 1
            continue
        try:
            w = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:200]}")
            n_fail += 1
            continue
        if sorted(g.columns) != sorted(w.columns):
            print(f"FAIL {name}: columns spark={sorted(g.columns)} oracle={sorted(w.columns)}")
            n_fail += 1
            continue
        dt_bad = [(c, str(g[c].dtype), str(w[c].dtype)) for c in sorted(g.columns)
                  if str(g[c].dtype) != str(w[c].dtype)]
        if dt_bad:
            print(f"FAIL {name}: dtype mismatch (col, spark, oracle): {dt_bad}")
            n_fail += 1
            continue
        gk, wk = table_key(g), table_key(w)
        if gk == wk:
            print(f"PASS {name} ({len(gk)} rows)")
            n_pass += 1
        else:
            print(f"FAIL {name}: rows differ (spark {len(gk)} vs oracle {len(wk)})")
            for i, (a, b) in enumerate(zip(gk, wk)):
                if a != b:
                    print(f"  first diff at row {i}:\n    spark : {a}\n    oracle: {b}")
                    break
            else:
                i = min(len(gk), len(wk))
                a = gk[i] if i < len(gk) else None
                b = wk[i] if i < len(wk) else None
                print(f"  length diff at row {i}:\n    spark : {a}\n    oracle: {b}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    sys.exit(main(sys.argv[1], sys.argv[2], only))
