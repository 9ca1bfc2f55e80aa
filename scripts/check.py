#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle compare (dev aid only; the
library itself has no python dependency).

Usage: python3 scripts/check.py <sfDir> <verifyOutDir> [query ...]

Reads <verifyOutDir>/oracle_sql.json + per-query parquet dumps written by
graft.Verify, runs each oracle SQL in DuckDB against the same tables, and
compares: schema (sorted column names), row count, and values (rows sorted,
columns sorted by name, float compared bit-exact then with 1e-9 rel tol).
A dump with no oracle fails as "no oracle"; an oracle with no dump fails on
its read.
"""
import sys, json, math, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        try:
            o = con.execute(sql).fetchdf()
            s = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        ok, msgs = True, []
        if sorted(o.columns) != sorted(s.columns):
            ok = False; msgs.append(f"cols oracle={sorted(o.columns)} spark={sorted(s.columns)}")
        elif len(o) != len(s):
            ok = False; msgs.append(f"rows oracle={len(o)} spark={len(s)}")
        else:
            oc, sc = canon(o), canon(s)
            for c in oc.columns:
                ov, sv = oc[c], sc[c]
                if ov.dtype.kind == 'f' or sv.dtype.kind == 'f':
                    exact = (ov.astype(float).values.tobytes() == sv.astype(float).values.tobytes())
                    if not exact:
                        bad = 0
                        for a, b in zip(ov, sv):
                            if (isinstance(a, float) and math.isnan(a)) and (isinstance(b, float) and math.isnan(b)):
                                continue
                            if a != b and abs(a - b) > 1e-9 * max(1.0, abs(a), abs(b)):
                                bad += 1
                        if bad:
                            ok = False; msgs.append(f"col {c}: {bad} values differ > tol")
                        else:
                            msgs.append(f"col {c}: not bit-exact but within 1e-9 (driver hash may still mismatch!)")
                else:
                    if not ov.astype(str).equals(sv.astype(str)):
                        diff = (ov.astype(str) != sv.astype(str)).sum()
                        ok = False; msgs.append(f"col {c}: {diff} values differ")
        status = "PASS" if ok else "FAIL"
        n_pass += ok; n_fail += (not ok)
        extra = ("  " + "; ".join(msgs)) if msgs else ""
        print(f"{status} {name} ({len(s) if 's' in dir() else '?'} rows){extra}")
    for name in sorted(os.listdir(out_dir)):
        if (os.path.isdir(os.path.join(out_dir, name)) and name not in oracles
                and not (only and name not in only)):
            print(f"FAIL {name}: no oracle")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail, {len(oracles)} oracles")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
